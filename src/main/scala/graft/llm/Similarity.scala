package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`array<float>`, 64-dim).
  *
  *  - v01: brute-force top-k for a bounded query set — the correctness
  *    baseline. The query side is tiny and broadcast; the candidate side
  *    streams. Cost is |Q|·|C|: fine for |Q| small, NOT the 100 TB path.
  *  - v02: random-hyperplane LSH probe. Each vector gets a 4-bit
  *    signature (sign of dot with 4 deterministic hyperplanes); search
  *    joins on bucket equality, cutting PER-QUERY candidates to ~1/16 of
  *    the corpus — linear overall for a bounded query set (the constant
  *    16-bucket space is fine for probing; it is NOT the pair-mining
  *    path — see v03). Recall < 1 by construction — identical in both
  *    engines because the hyperplanes derive from exact integer
  *    arithmetic.
  *  - v03: embedding-cosine near-duplicate pairs mined from BANDED
  *    multi-bit LSH buckets (4 bands x 8 sign bits, OR-of-ANDs) with an
  *    explicit bucket-size cap: buckets holding more than `tau` vectors
  *    are dropped before the pair join (an over-full bucket is a
  *    non-discriminative signature — the industrial LSH guard), so
  *    per-bucket candidate work is bounded by tau^2 REGARDLESS of corpus
  *    size. The round-5 4-bit global bucket folded the whole corpus into
  *    16 buckets — O((N/16)^2) pair work at scale; banding + cap is the
  *    fix.
  *  - v07: the recall@k evaluation harness — exact top-k as ground truth
  *    vs the bucket-restricted answer at two bucket widths, the
  *    recall-vs-candidate-cost sweep used to size an LSH index.
  *  - v08–v30: trained IVF, PQ, delta-append and compacted ANN indexes,
  *    hybrid RRF and their recall audits (each entry carries its notes).
  *
  * The IVF/ANN entries share one filter-and-verify core (the "shared
  * retrieval core" section): [[exactTruth]] (persisted exact top-5),
  * [[probeCells]] (top-nProbe cells of a broadcast codebook, sized by
  * [[nProbeFor]]), [[rerankCells]] (probed-cell exact cosine),
  * [[recallHits]], [[ivfRecallLeg]] (v09/v17), [[heldOutTopK]] (the
  * index probe of v18/v19/v19b/v25b) and [[rrfFuse]] (v25/v25b), over
  * the integer IVF machinery ([[ivfQv]], [[ivfAssign]],
  * [[twoLevelAssign]]).
  *
  * Cosine is the custom Catalyst expression `cosine_sim`
  * (graft.functions.CosineSimilarity, codegen'd); the DuckDB oracle
  * recomputes it with the same sequential double arithmetic
  * (dot / sqrt(dot_aa * dot_bb)) so results are bit-identical.
  */
object Similarity {

  // The deterministic hyperplane family w(i, p) lives in the codegen'd
  // functions.HyperplaneSig expression (and, unrolled, in the DuckDB
  // oracle SQL below) — exact integer arithmetic, identical in both.

  /** 4-bit LSH bucket from hyperplane dot-product signs — the PROBE-side
    * index used by v02/v07: per-query candidate cost is a constant
    * fraction of the corpus (1/16), linear overall for a bounded query
    * set. NOT used for all-pairs mining (that is [[withBandKeys]], whose
    * bucket population is capped). The sign bits come from the codegen'd
    * `hyperplane_sig` expression (functions.HyperplaneSig — one fused
    * pass over the integer-exact plane family, no per-row arrays). */
  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", expr("hyperplane_sig(embedding, 4)"))

  private val NumBands = 4
  private val BandBits = 8

  /** Banded multi-bit LSH keys for PAIR MINING — one row per (vector,
    * band): band j's key packs the sign bits of 8 deterministic
    * hyperplanes (planes j*8..j*8+7 of the same integer-exact family as
    * [[withBucket]]). Two vectors are candidates iff they agree on ALL 8
    * bits of SOME band (OR-of-ANDs, the same banding scheme d03 uses for
    * MinHash): each band splits the corpus across 256 keys instead of
    * folding it into a global 16, and the miner additionally caps bucket
    * population (see [[neardupPairsOn]]) so candidate work stays
    * partition-bounded at any corpus size. */
  private def withBandKeys(df: DataFrame): DataFrame = {
    // All NumBands*BandBits sign bits in ONE codegen'd pass (the HOF
    // per-plane composition this replaces was ~8× slower per row and is
    // the full-corpus scan cost of the miner); band j's key is bits
    // j*BandBits .. j*BandBits+BandBits-1 of the packed signature.
    val sig = expr(s"hyperplane_sig(embedding, ${NumBands * BandBits})")
    val bands = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("__sig"), b * BandBits)
          .bitwiseAND((1L << BandBits) - 1).as("bkey"))
    }
    df.withColumn("__sig", sig)
      .withColumn("__bb", explode(array(bands: _*)))
      .withColumn("band", col("__bb.band"))
      .withColumn("bkey", col("__bb.bkey"))
      .drop("__sig", "__bb")
  }

  /** Int8-quantized embeddings with the codes as a true `array<long>`
    * column — the form a consumer would store. v05 grades a stringified
    * projection of this; SimilaritySpec pins the array form directly. */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val ed = transform(col("embedding"), x => x.cast("double"))
    Tables.load(s, dir, "embeddings")
      // NULL-embedding guard: downstream posexplode_outer sites (the
      // inferred-generator-filter fix) would emit a NULL-dim row for a
      // NULL vector where DuckDB's unnest(NULL) emits nothing; the
      // pushed IsNotNull makes outer row-identical to inner.
      .filter(col("embedding").isNotNull)
      .withColumn("max_abs", array_max(transform(ed, x => abs(x))))
      .withColumn("scale",
        when(col("max_abs") === 0.0, lit(0.0))
          .otherwise(lit(127.0) / col("max_abs")))
      .select(col("vec_id"),
        transform(ed, x => round(x * col("scale")).cast("long")).as("q8"),
        col("max_abs"))
  }

  // ---- Shared integer-spherical-Lloyd IVF machinery (v09/v17/v18) ----
  // One definition of the training arithmetic; the graded entries keep
  // their full design notes in place. Every step is order-invariant
  // integer math (see v09's note), so codebooks are bit-identical
  // across engines and shuffle orders.

  /** v09's L2-normalized int64 quantization (round(x/||x||*1000)).
    *
    * The repartition mirrors docsWithTokens' rule: the embeddings
    * parquet is a handful of MB even at sf1 (20k × 64 floats), so the
    * scan yields ONE input partition — and every downstream Lloyd
    * round / N×K assignment (millions of 64-dim zip_with distance
    * evals, lambda-evaluated, not whole-stage-codegen'd) would
    * serialize onto one core. Found at the round-9 sf1 leg: v17 sat
    * at ~90 s with 31 idle threads. Spreading the (tiny) raw vectors
    * once costs a negligible shuffle and parallelizes every
    * IVF/PQ/training consumer; at production scale the file count
    * makes the repartition proportionally free. */
  private[graft] def ivfQv(e: DataFrame): DataFrame = e
    .repartition(e.sparkSession.sparkContext.defaultParallelism)
    .select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("ed"))
    .withColumn("nrm", l2Norm(col("ed")))
    .select(col("vec_id"), quantize(col("ed"), col("nrm")).as("qv"))

  /** The L2 norm of a double array: one array-ordered fold, the same
    * sequential arithmetic the cosine_sim oracle matches bit-for-bit. */
  private[graft] def l2Norm(ed: Column): Column = sqrt(aggregate(
    zip_with(ed, ed, (x, w) => x * w), lit(0.0), (acc, v) => acc + v))

  /** round(x/||x||·1000) per element as int64 (0 for a zero vector).
    * `nrm` is a column computed once per row, never inside the lambda. */
  private[graft] def quantize(ed: Column, nrm: Column): Column =
    transform(ed, x => when(nrm === 0.0, lit(0L))
      .otherwise(round(x / nrm * 1000).cast("long")))

  /** Exact integer squared-L2 — the codegen'd [[graft.functions.
    * IntL2Dist]] native expression since round 15 (the former
    * `aggregate(zip_with(...))` composition is CodegenFallback:
    * interpreted lambda dispatch + a per-row intermediate array, and
    * it dominated the IVF trainer at the sf10 leg). Same integer
    * arithmetic bit-for-bit; every DuckDB twin unchanged. */
  private[graft] def ivfIntDist(a: Column, b: Column): Column =
    call_function("int_l2", a, b)

  /** The k vectors with smallest md5(vec_id) — a TakeOrdered top-k,
    * not a scan prefix. */
  private[graft] def ivfSeed(qvAll: DataFrame, k: Int): DataFrame = qvAll
    .orderBy(md5(col("vec_id").cast("string").cast("binary")),
      col("vec_id"))
    .limit(k)
    .select(col("vec_id").as("cid"), col("qv").as("cv"))

  /** Bounded deterministic TRAINING SAMPLE — the md5-top-s prefix of
    * the corpus under the same (md5(vec_id), vec_id) order [[ivfSeed]]
    * uses, s = 256·K (the standard IVF training budget: ~256 vectors
    * per centroid, vs training k-means on the full corpus). Lloyd
    * rounds assign only the sample — s·K = 256·K² ≈ 256·N distance
    * evals per round at K=√N, instead of the N·√N = N^1.5 a
    * full-corpus round costs; the corpus pays exactly ONE full N×K
    * assignment, at index build / leg-final assign. Because the seed
    * is the first K rows of the same total order, sampled training
    * coincides bit-for-bit with full-corpus training whenever s ≥ N,
    * and the DuckDB twins recompute the identical sample (same md5
    * order, same row_number cutoff) so the codebooks stay
    * bit-identical at any N. */
  private[graft] def ivfSample(qvAll: DataFrame, s: Int): DataFrame = qvAll
    .orderBy(md5(col("vec_id").cast("string").cast("binary")),
      col("vec_id"))
    .limit(s)

  /** Sampled-trainer convenience: seed from the sample's own top-K
    * prefix (== the corpus seed), Lloyd over the sample only. */
  private[graft] def ivfTrainSampled(qvAll: DataFrame, k: Int,
                              rounds: Int): DataFrame = {
    // The md5-top-s cut ends in a single-partition GlobalLimit, so an
    // unpartitioned `samp` would run every Lloyd round's s·K distance
    // evals on ONE core (found at the round-9 sf1 leg: 25 s/round on
    // a 32-thread box). Re-spreading the sample is free (≤ 256·K tiny
    // rows) and order-irrelevant: every downstream step is
    // order-invariant integer math, and the seed re-sorts by the md5
    // order anyway.
    val samp = ivfSample(qvAll, 256 * k)
      .repartition(qvAll.sparkSession.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_AND_DISK)
    ivfTrain(samp, ivfSeed(samp, k), rounds)
  }

  /** Exact integer L2 argmin assignment (tie-break centroid id).
    * Round-15 shape: the codebook rides as ONE broadcast
    * `array<struct<cid, cv>>` value and each vector's argmin is the
    * codegen'd [[graft.functions.IvfArgmin]] scalar — a LINEAR
    * whole-stage-codegen projection, K·dim fused ops per row, no join
    * fan-out, no shuffle, no aggregate. The round-9 struct-MIN
    * aggregate form this replaces had already removed the N·K-row
    * exchange, but still materialized the N×K crossJoin rows and
    * hashed the 64-long qv array as a grouping key — measured as the
    * dominant trainer cost at the sf10 leg (the trainer runs this
    * 3·256·K² times). Arithmetic unchanged: lexicographic (dist, cid)
    * minimum in exact int64 — every DuckDB row_number twin is
    * bit-identical. The isNotNull filter mirrors the join form's
    * implicit drop on an empty codebook (never hit in practice: K ≥ 1
    * by sizing). */
  private[graft] def ivfAssign(qvAll: DataFrame, cents: DataFrame): DataFrame = {
    val carr = cents
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"))))
        .as("__carr"))
    qvAll.crossJoin(broadcast(carr))
      .select(col("vec_id"), col("qv"),
        call_function("ivf_argmin", col("qv"), col("__carr")).as("cid"))
      .filter(col("cid").isNotNull)
  }

  /** Floor-mean centroid update re-projected onto the 1000-sphere
    * (spherical k-means; see v09's design note). */
  private def ivfUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode_outer(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("cid"), col("dim"))
      .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
        .cast("long").as("mval"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mval"))))
        .as("mv"))
      .withColumn("ss", aggregate(col("mv"), lit(0L),
        (a, st) => a + st.getField("mval") * st.getField("mval")))
      .select(col("cid"), transform(col("mv"), st =>
        when(col("ss") === 0L, lit(0L))
          .otherwise(round(st.getField("mval").cast("double") /
            sqrt(col("ss").cast("double")) * 1000).cast("long")))
        .as("cv"))

  /** Lloyd driver with a PER-ROUND lineage barrier: each round's
    * codebook is K tiny rows, but as a lazy lineage the whole T-round
    * chain re-executes once per CONSUMER SUBTREE of the trained
    * codebook (v17 reads it from the leg assign AND the probe side →
    * the 3-round sampled training ran 3-5× — ~90 s of the sf1 suite
    * before round 9). An eager localCheckpoint after every round
    * (the d06 barrier discipline, K rows ≈ nothing) makes each round
    * execute exactly once and hands every consumer a checkpoint scan
    * instead of a training re-run. */
  private[graft] def ivfTrain(qvAll: DataFrame, seed: DataFrame,
                       rounds: Int): DataFrame =
    (1 to rounds).foldLeft(seed)((c, _) =>
      ivfUpdate(ivfAssign(qvAll, c)).localCheckpoint(true))

  /** TWO-LEVEL IVF assignment (v29's machinery, promoted in round 15
    * to THE corpus-assignment route for every index build): group the
    * K fine centroids under G = round(√K) coarse centroids (a 2-round
    * Lloyd over K rows — free), route each vector to its nearest
    * coarse group (N·G), then take the exact argmin among only that
    * group's fine centroids (N·K/G expected) — ~2·N·√K total distance
    * evals instead of the flat N·K. This was the engine's last
    * designed-in superlinear term: at K = √N the flat pass is N^1.5
    * (v17's 12.1× sf10 wall — "at 100 TB it is simply not runnable"),
    * the two-level route N^1.25 (v29 measured 9.3×). The route is
    * APPROXIMATE (a vector's true nearest fine centroid can sit in a
    * non-nearest group) — v29 stays the graded audit of that damage,
    * and [[ensureAnnIndex]] persists a flat-agreement audit beside the
    * cells it writes. All arithmetic is the same order-invariant
    * integer math as [[ivfAssign]] (struct-MIN argmins, (dist, cid)
    * ties), so the DuckDB twins recompute it bit-for-bit. Codebooks
    * broadcast at every step; the corpus never shuffles.
    * `k` is the NOMINAL codebook size (round(√N) — Lloyd can empty a
    * cell, so sizing G from the survivor count would diverge from the
    * oracle's N-derived G on any corpus that empties one).
    * Returns (vec_id, qv, gid, cid) — [[ivfAssign]]'s schema plus the
    * coarse group, which the build-side audit aggregates by. */
  private[graft] def twoLevelAssign(qvAll: DataFrame, cents: DataFrame,
                                    k: Int): DataFrame = {
    val g = math.max(1L, math.round(math.sqrt(k.toDouble))).toInt
    // K tiny rows feed coarse training, the fine map and the cand
    // table — barrier so the (possibly lazy) codebook runs once.
    val centsQv = cents
      .select(col("cid").as("vec_id"), col("cv").as("qv"))
      .localCheckpoint(true)
    val coarse = ivfTrain(centsQv, ivfSeed(centsQv, g), 2)
    val fineMap = ivfAssign(centsQv, coarse)
      .select(col("vec_id").as("fcid"), col("cid").as("gid"))
    val routed = ivfAssign(qvAll, coarse)
      .select(col("vec_id"), col("qv"), col("cid").as("gid"))
    // Per-group fine codebooks as broadcast arrays (the round-15
    // ivfAssign shape at group grain): the fine argmin is one
    // codegen'd scalar over the routed group's own centroid array —
    // the expected K/G candidates per row ride a bounded broadcast
    // join instead of fanning N·K/G materialized rows through an
    // array-keyed aggregate.
    val fineCands = fineMap
      .join(centsQv.select(col("vec_id").as("fcid"), col("qv").as("cv")),
        "fcid")
      .groupBy(col("gid").as("fgid"))
      .agg(sort_array(collect_list(
        struct(col("fcid").as("cid"), col("cv")))).as("garr"))
    // EMPTY-GROUP FALLBACK (round 16): the post-update coarse codebook
    // gc2 can own corpus vectors while winning zero fine centroids (the
    // fine map re-assigns against gc2, not against the assignment that
    // produced it) — an inner join here would silently DROP those
    // vectors from the index forever, invisibly to both the
    // flat-agreement audit (it aggregates only surviving rows) and the
    // DuckDB twins (which reproduced the same inner join). Left-join
    // instead, and fall back to the exact flat argmin over the FULL
    // codebook (one broadcast array value — K·dim ops only for the
    // rare unmatched row, zero cost when no group is empty). The
    // oracles recompute the identical fallback branch.
    val fullArr = centsQv.agg(sort_array(collect_list(
      struct(col("vec_id").as("cid"), col("qv").as("cv")))).as("farr"))
    routed
      .join(broadcast(fineCands), col("gid") === col("fgid"), "left_outer")
      .crossJoin(broadcast(fullArr))
      .select(col("vec_id"), col("qv"), col("gid"),
        coalesce(
          call_function("ivf_argmin", col("qv"), col("garr")),
          call_function("ivf_argmin", col("qv"), col("farr"))).as("cid"))
      .filter(col("cid").isNotNull)
  }

  // ---- Shared retrieval core: exact truth, cell probe, re-rank, recall ----
  // Every IVF harness and serving probe is filter-and-verify: rank the
  // codebook cells per query ([[probeCells]]), verify the probed cells'
  // members by exact cosine ([[rerankCells]]), and grade the approximate
  // top 5 against the exact one ([[exactTruth]], [[recallHits]]).

  /** The held-out query slice (vec_id 100..119) the IVF harnesses and
    * serving probes grade: disjoint from the first-16 codebook anchors. */
  private val HeldOut: Column = col("vec_id") >= 100 && col("vec_id") < 120

  /** Per-query cosine rank order (sim desc, c_id ties). */
  private val bySim = Window.partitionBy(col("q_id"))
    .orderBy(col("sim").desc, col("c_id"))

  /** Per-query cell rank order (exact integer L2, cid ties). */
  private val byDist = Window.partitionBy(col("q_id"))
    .orderBy(col("dist"), col("cid"))

  /** (q_id, q_emb) of the queries selected by `isQuery`. */
  private def queryEmb(e: DataFrame, isQuery: Column): DataFrame =
    e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** (c_id, c_emb): the corpus as re-rank candidates. */
  private def corpusEmb(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  /** K = round(√n): the IVF codebook size for an n-row corpus. */
  private[graft] def ivfK(n: Long): Int =
    math.round(math.sqrt(n.toDouble)).toInt

  /** nProbe = round(K/4), at least 1, with K = [[ivfK]](n) — about a
    * quarter of the corpus per query. `n` is the row count the codebook
    * trained on, never the surviving centroid count: a Lloyd round can
    * empty a cell, and the oracle sizes from N, so sizing from survivors
    * would probe a different cell count on any corpus that empties one. */
  private[graft] def nProbeFor(n: Long): Int =
    math.max(1L, math.round(ivfK(n) / 4.0)).toInt

  /** Exact top-5 cosine truth (q_id, c_id) for the queries selected by
    * `isQuery`. Persisted: the |Q|×|N| broadcast NLJ of codegen cosines
    * plus a per-query window feeds every leg and report branch of its
    * harness, so its ~|Q|·5 rows compute once. */
  private[graft] def exactTruth(e: DataFrame, isQuery: Column): DataFrame =
    queryEmb(e, isQuery).join(corpusEmb(e), col("q_id") =!= col("c_id"))
      .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
      .withColumn("rnk", row_number().over(bySim))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("c_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Every codebook cell ranked per query vector (vec_id, qv): the
    * codebook broadcasts, so the work is |Q|×K. Adds (q_id, cid, cv,
    * dist, prn); `prn` is the rank expression. */
  private def rankCells(q: DataFrame, cents: DataFrame,
                        prn: Column = row_number().over(byDist)): DataFrame =
    q.select(col("vec_id").as("q_id"), col("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", ivfIntDist(col("qv"), col("cv")))
      .withColumn("prn", prn)

  /** Top-nProbe cell probe: (q_id, p_cell) for each query vector. */
  private[graft] def probeCells(q: DataFrame, cents: DataFrame,
                                nProbe: Int): DataFrame =
    rankCells(q, cents).filter(col("prn") <= nProbe)
      .select(col("q_id"), col("cid").as("p_cell"))

  /** Probed-cell cosine re-rank candidates: each query (`qe`) against
    * the members of its probed cells, itself excluded, with exact
    * cosine `sim`. `cEmb` re-attaches c_emb when `cells` lacks it. */
  private[graft] def rerankCells(probes: DataFrame, qe: DataFrame,
      cells: DataFrame, cEmb: Option[DataFrame] = None): DataFrame = {
    val cand = probes.join(qe, "q_id")
      .join(cells, col("p_cell") === col("c_cell") &&
        col("q_id") =!= col("c_id"))
    cEmb.fold(cand)(cand.join(_, "c_id"))
      .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
  }

  /** Recall hit count: how many of each query's `truth` rows (q_id,
    * c_id) the approximate answer `approx` recovered, as column `name`. */
  private[graft] def recallHits(truth: DataFrame, approx: DataFrame,
                                name: String): DataFrame =
    truth.join(approx.select(col("q_id"), col("c_id"), lit(1L).as("hit")),
        Seq("q_id", "c_id"), "left_outer")
      .groupBy(col("q_id")).agg(count(col("hit")).as(name))

  /** One IVF recall leg (v09, v17): assign the corpus to `cents`' cells,
    * probe each held-out query's top-nProbe cells, exact-cosine re-rank,
    * and score the top 5 against `truth`. Columns (q_id, hits_`sfx`,
    * n_cand_`sfx`, recall_`sfx`). */
  private[graft] def ivfRecallLeg(e: DataFrame, qvAll: DataFrame,
      truth: DataFrame, cents: DataFrame, nProbe: Int,
      sfx: String): DataFrame = {
    val cells = ivfAssign(qvAll, cents)
      .select(col("vec_id").as("c_id"), col("cid").as("c_cell"))
      .join(corpusEmb(e), "c_id")
    val reranked = rerankCells(
        probeCells(qvAll.filter(HeldOut), cents, nProbe),
        queryEmb(e, HeldOut), cells)
      .withColumn("rnk", row_number().over(bySim))
    val nCand = reranked.groupBy(col("q_id"))
      .agg(count(lit(1)).as(s"n_cand_$sfx"))
    recallHits(truth, reranked.filter(col("rnk") <= 5), s"hits_$sfx")
      .join(nCand, "q_id")
      .withColumn(s"recall_$sfx", col(s"hits_$sfx").cast("double") / 5.0)
  }

  /** The held-out probe body over an index's `cents` and `cells` (v18,
    * v25b, v19, v19b): quantize ONLY the |Q| held-out queries, probe
    * [[nProbeFor]](n) cells, exact-cosine re-rank and keep each query's
    * top k (rnk as long). The plan holds no training and no corpus
    * quantization pass. */
  private def heldOutTopK(e: DataFrame, cents: DataFrame, cells: DataFrame,
      n: Long, k: Int, cEmb: Option[DataFrame] = None): DataFrame =
    rerankCells(probeCells(ivfQv(e.filter(HeldOut)), cents, nProbeFor(n)),
        queryEmb(e, HeldOut), cells, cEmb)
      .withColumn("rnk", row_number().over(bySim).cast("long"))
      .filter(col("rnk") <= k)

  /** Reciprocal-rank fusion (k = 60) of a lexical (q_id, c_id, r_lex)
    * and a vector (q_id, c_id, r_vec) shortlist, shared by v25 and v25b:
    * a |Q|-bounded full-outer join scored 1/(60+r_lex) + 1/(60+r_vec)
    * (absent rank ⇒ 0; two exact-int double divisions added in fixed
    * literal order, so both engines produce identical bits), top 10 per
    * query by (rrf desc, c_id). */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("c_id"))
    lex.join(vec, Seq("q_id", "c_id"), "full_outer")
      .withColumn("rrf",
        when(col("r_lex").isNotNull,
          lit(1.0) / (lit(60.0) + col("r_lex"))).otherwise(lit(0.0)) +
        when(col("r_vec").isNotNull,
          lit(1.0) / (lit(60.0) + col("r_vec"))).otherwise(lit(0.0)))
      .withColumn("rnk", row_number().over(wf).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk"), col("c_id"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_vec"), lit(0L)).as("r_vec"), col("rrf"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Pre-materialized ANN index — v18's engine and the v-family twin of
    * d21's ingest index: the √N spherical-Lloyd codebook (v17's
    * production sizing, T=3) and the corpus cell assignment are trained
    * ONCE and written to parquet; every serving query then walks
    * codebook → probed cells → exact re-rank, touching the corpus only
    * through the materialized cells table. Keyed by
    * [[IndexStore.fingerprint]] of the embeddings source (canonical
    * path + child file names/sizes/mtimes — same scheme as the ingest
    * index), so a regenerated or different corpus invalidates it, and
    * published atomically via temp-dir rename; Bench's warmup pass
    * builds it, so the measured pass times the probe alone. */
  private def ensureAnnIndex(s: SparkSession, dir: String): String = {
    val base = IndexStore.path(IndexStore.Ann,
      new java.io.File(s"$dir/embeddings.parquet"))
    IndexStore.ensureBuilt(base) { tmp =>
      val qvAll = ivfQv(Tables.load(s, dir, "embeddings"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val k = ivfK(qvAll.count())
      // Codebook trains on the bounded 256·K sample; the full corpus
      // is assigned ONCE below (the "cells" write) — via the two-level
      // route, ~2·N·√K distance evals instead of the flat N·K.
      ivfTrainSampled(qvAll, k, 3)
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "cents").getPath)
      // Cells derive from the WRITTEN artifact (not the in-memory
      // plan), so index contents are self-consistent by construction.
      val cents = s.read.parquet(new java.io.File(tmp, "cents").getPath)
      val two = twoLevelAssign(qvAll, cents, k)
        .persist(StorageLevel.MEMORY_AND_DISK)
      two.select(col("vec_id").as("c_id"), col("cid").as("c_cell"))
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "cells").getPath)
      // FLAT-AGREEMENT AUDIT, persisted beside the cells it audits:
      // the exact flat argmin on the deterministic 1/97 sample (the
      // a20 bounded-sample rule — N·K/97 evals, never the full pass)
      // against the two-level cells, by coarse group. The routing
      // error the approximate build accepted is a recorded number in
      // the artifact, not an assumption; v29 grades the same audit as
      // a query.
      val flat = ivfAssign(qvAll.filter(col("vec_id") % 97 === 0), cents)
        .select(col("vec_id").as("sv"), col("cid").as("flat_cell"))
      two.join(flat, col("vec_id") === col("sv"), "left_outer")
        .groupBy(col("gid"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("sv").isNotNull, 1L).otherwise(0L))
            .as("n_sample"),
          sum(when(col("cid") === col("flat_cell"), 1L).otherwise(0L))
            .as("n_agree"))
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "audit").getPath)
      two.unpersist()
      qvAll.unpersist()
    }
  }

  /** v18's probe body over the full-corpus index, parameterized on
    * shortlist depth k — shared by v18 (k = 5) and v25b's vector
    * shortlist (k = 20): [[heldOutTopK]] over the materialized codebook
    * (broadcast) and cells (index scan), sized from the corpus row count
    * (parquet metadata only, no data scan). The cells carry no
    * embedding, so c_emb re-attaches after the probe. Returns (q_id,
    * c_id, rnk, sim), rnk ≤ k, unordered. */
  private def indexedAnnShortlist(s: SparkSession, dir: String,
                                  k: Int): DataFrame = {
    val idx = ensureAnnIndex(s, dir)
    val cents = s.read.parquet(s"$idx/cents")
    val cells = s.read.parquet(s"$idx/cells")
    val e = Tables.load(s, dir, "embeddings")
    heldOutTopK(e, cents, cells, e.count(), k, Some(corpusEmb(e)))
      .select(col("q_id"), col("c_id"), col("rnk"), col("sim"))
  }

  /** v19's artifact: codebook trained on the BASE corpus only
    * (vec_id % 7 != 0), base cell assignment, and a DELTA segment —
    * the % 7 == 0 batch quantized with the base codebook (no retrain,
    * the FAISS IVF-append discipline). Same fingerprint-keyed cache
    * and atomic publish as [[ensureAnnIndex]]. */
  private def ensureAnnDeltaIndex(s: SparkSession, dir: String): String =
    ensureAnnDeltaIndexWhere(s, dir, "v19",
      col("vec_id") % 7 =!= 0, col("vec_id") % 7 === 0)

  /** Generalized delta-chain build (v19's "v19" slices; d33's serving
    * composite re-cuts base/delta on d23's ingest-day boundaries so
    * TODAY's batch is NOT yet indexed): tag-suffixed cache key, same
    * fingerprint + atomic publish. */
  private[graft] def ensureAnnDeltaIndexWhere(s: SparkSession,
      dir: String, tag: String, basePred: Column,
      deltaPred: Column): String = {
    val base = IndexStore.path(IndexStore.AnnDelta,
      new java.io.File(s"$dir/embeddings.parquet"), tag)
    IndexStore.ensureBuilt(base) { tmp =>
      val qvAll = ivfQv(Tables.load(s, dir, "embeddings"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val baseQv = qvAll.filter(basePred)
      val k = ivfK(baseQv.count())
      ivfTrainSampled(baseQv, k, 3)
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "cents").getPath)
      val cents = s.read.parquet(new java.io.File(tmp, "cents").getPath)
      // Cells DENORMALIZE the float embedding (round 12, found at the
      // sf10 leg): the exact re-rank needs c_emb for every candidate,
      // and re-attaching it by equi-join AFTER the probe fan-out means
      // sort-merge-joining the |batch|·nProbe·cellPop candidate stream
      // on c_id — the sort spilled >75 GB at sf10. Carried in the
      // artifact, the embedding rides the cell scan and the fan-out
      // flows straight into codegen cosine + the top-1 partial
      // aggregate; one |segment|-sized join at BUILD time buys a
      // join-free probe. Parquet column pruning keeps consumers that
      // need only (c_id, c_cell) — v19's shortlists — at their old
      // scan width.
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("c_id"),
          col("embedding").as("c_emb"))
      // Both segments assign through the TWO-LEVEL route (round 15 —
      // see [[twoLevelAssign]]): the coarse codebook and fine map are
      // deterministic functions of the written cents, so base and
      // delta route through the identical group structure the oracle
      // recomputes.
      twoLevelAssign(baseQv, cents, k)
        .select(col("vec_id").as("c_id"), col("cid").as("c_cell"))
        .join(emb, "c_id")
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "cells_base").getPath)
      // The append pass: |delta| × (G + K/G) assignment against the
      // FROZEN codebook — the only work a nightly batch pays.
      twoLevelAssign(qvAll.filter(deltaPred), cents, k)
        .select(col("vec_id").as("c_id"), col("cid").as("c_cell"))
        .join(emb, "c_id")
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "cells_delta").getPath)
      qvAll.unpersist()
    }
  }

  /** LSM-style segment COMPACTION for the ANN delta chain (round 15 —
    * the d43 discipline applied to the v-family): fold k cell
    * segments of one delta index into a SINGLE cells artifact with
    * v18's one-segment contract, carrying the frozen codebook over
    * verbatim. The fold is ARTIFACT-to-ARTIFACT: embeddings are never
    * re-read and nothing is re-assigned — cell rows union and dedup
    * by full-row distinct (a vector's cell is a pure function of the
    * frozen codebook and its embedding, so cross-segment repeats are
    * identical rows and collapse; rows that DISAGREE on a c_id both
    * survive so the conflict is loud, and the dedup makes
    * re-compaction of a compacted artifact with one of its own inputs
    * idempotent, the round-15 compaction rule). Probes against the compacted artifact
    * run ONE FileScan instead of k — the bound on the delta chain's
    * growth axis, exactly d23→d43's argument at the vector grain.
    * Cost ∝ index rows (c_id, c_cell + the denormalized embedding),
    * never corpus re-quantization. The cache key mixes the segment
    * identities (parent/part pairs — parts live INSIDE an index dir)
    * so a grown segment set can never alias a stale fold. */
  private[graft] def compactAnnSegments(s: SparkSession, dir: String,
      tag: String, centsPath: String, segs: Seq[String]): String = {
    val ids = segs.map { p =>
      val f = new java.io.File(p)
      s"${f.getParentFile.getName}/${f.getName}"
    }
    val base = IndexStore.path(IndexStore.AnnDelta,
      new java.io.File(s"$dir/embeddings.parquet"), tag, ids)
    IndexStore.ensureBuilt(base) { tmp =>
      s.read.parquet(centsPath).write.mode("overwrite")
        .parquet(new java.io.File(tmp, "cents").getPath)
      // Full-row distinct (round 16, matching compactIndexSegments):
      // identical cross-segment repeats collapse exactly as before, but
      // if segments ever DISAGREE on a c_id (e.g. segments of different
      // codebooks passed by mistake) both rows survive and the
      // part-level content-equality spec catches the conflict — a
      // c_id-keyed dropDuplicates would keep an arbitrary winner and
      // mask it nondeterministically.
      segs.map(s.read.parquet(_)).reduce(_ unionByName _)
        .distinct()
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "cells").getPath)
    }
  }

  /** d33's ANN leg: each probe vector's single nearest INDEXED
    * neighbor (cosine, over the probed cells of base ∪ delta, segment
    * provenance carried) — the semantic-dup check a serving-side
    * ingest job runs per new document. Index slices follow d23's
    * ingest-day convention (base = day ∉ {0, 3}, delta = day 3), so
    * the probing batch (day 0) is NOT in the index — unlike v19,
    * where the batch IS yesterday's appended delta. Probes size by
    * [[nProbeFor]] over the base count, as the DuckDB oracle
    * (annServeCtes pSql) does; the count is a pushed-filter scan of
    * one int column, not a corpus read. */
  private[graft] def annNearestIndexed(s: SparkSession,
                                       dir: String): DataFrame = {
    val idx = ensureAnnDeltaIndexWhere(s, dir, "d33",
      col("vec_id") % 7 =!= 0 && col("vec_id") % 7 =!= 3,
      col("vec_id") % 7 === 3)
    val cents = s.read.parquet(s"$idx/cents")
    val cells = s.read.parquet(s"$idx/cells_base")
      .withColumn("seg", lit("base"))
      .unionByName(s.read.parquet(s"$idx/cells_delta")
        .withColumn("seg", lit("delta")))
    val nProbe = nProbeFor(Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") % 7 =!= 0 && col("vec_id") % 7 =!= 3).count())
    val isProbe = col("vec_id") % 7 === 0
    val e = Tables.load(s, dir, "embeddings")
    // Top-1 as a struct-MIN AGGREGATE, not a row_number window (the
    // ivfAssign lesson at the serving grain — round 12, found at the
    // sf10 leg): this probe side is the BATCH (N/7 queries), so the
    // candidate stream is |batch|·nProbe·cellPop ≈ N^1.5 rows — a
    // window must SORT it (UnsafeExternalSorter filled the 75 GB of
    // scratch disk at sf10 before producing a row), while the
    // lexicographic ((−sim, c_id)) min collapses map-side inside
    // whole-stage codegen and the exchange carries one struct per
    // batch doc. Same total order as the former (sim DESC, c_id)
    // rank-1 — the stream twin (servingIngestStream) has used this
    // form all along, so the stream==batch pin is unchanged. */
    // c_emb comes OFF THE CELLS ARTIFACT (denormalized at build — see
    // ensureAnnDeltaIndexWhere): no post-fan-out join, so nothing ever
    // sorts the candidate stream.
    rerankCells(probeCells(ivfQv(e.filter(isProbe)), cents, nProbe),
        queryEmb(e, isProbe), cells)
      .groupBy(col("q_id"))
      .agg(min(struct((-col("sim")).as("nsim"), col("c_id"),
        col("sim"), col("seg"))).as("best"))
      .select(col("q_id"), col("best.c_id").as("ann_nn"),
        col("best.sim").as("ann_sim"), col("best.seg").as("ann_seg"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v19_delta_ann" -> { (s, dir) =>
      // DELTA-APPEND ANN serving — the v-family twin of d23's
      // delta-segmented ingest index, closing the loop v18 opened: a
      // nightly embedding batch (vec_id ≡ 0 mod 7, the d18/d21 batch
      // convention) does NOT retrain the codebook — production (the
      // FAISS IVF append discipline) quantizes arrivals with the
      // EXISTING centroids and appends a delta cell-assignment
      // segment; queries probe base ∪ delta. Each hit carries its
      // segment, so codebook staleness (delta vectors quantized by
      // centroids trained before they existed) is a graded, visible
      // fact instead of silent drift. The plan has no training subtree
      // and no corpus quantization: |Q|×K probe argmin + probed-cell
      // re-rank, at any corpus size; the append itself cost |delta|×K
      // once at ingest.
      val idx = ensureAnnDeltaIndex(s, dir)
      val cents = s.read.parquet(s"$idx/cents")
      val cells = s.read.parquet(s"$idx/cells_base")
        .withColumn("seg", lit("base"))
        .unionByName(s.read.parquet(s"$idx/cells_delta")
          .withColumn("seg", lit("delta")))
      val e = Tables.load(s, dir, "embeddings")
      // K and nProbe size from the BASE row count (what the codebook
      // was trained on); the count is a pushed-filter scan of one int
      // column. c_emb rides the cells artifact (denormalized at build;
      // see ensureAnnDeltaIndexWhere): the exact re-rank needs no
      // per-candidate embedding re-attach join.
      val nBase = e.filter(col("vec_id") % 7 =!= 0).count()
      heldOutTopK(e, cents, cells, nBase, 5)
        .select(col("q_id"), col("c_id"), col("rnk"), col("sim"),
          col("seg"))
        .orderBy(col("q_id"), col("rnk"))
    },

    "v19b_ann_compaction" -> { (s, dir) =>
      // ANN SEGMENT COMPACTION — the maintenance step that bounds
      // v19's one growth axis (a nightly append adds a cells FileScan
      // to every probe), graded end-to-end: [[compactAnnSegments]]
      // folds cells_base ∪ cells_delta into ONE artifact (pure
      // artifact fold — embeddings never re-read, codebook frozen and
      // carried verbatim), and today's queries probe the compacted
      // index. Semantics are EXACTLY v19's minus segment provenance
      // (compaction is what ERASES provenance — the fold collapses
      // base/delta into the standing corpus), so the oracle is v19's
      // CTE chain with the seg column dropped, and SimilaritySpec pins
      // row-equality against v19 plus part-level content equality of
      // the compacted cells to the segment union. At 100 TB: appends
      // stay |delta|-cost, probes stay one scan, compaction costs
      // O(index rows) on whatever cadence keeps k bounded — rebuild
      // (codebook retrain, the v23-gated decision) stays a separate,
      // rarer event. ≙ the reference's consumers-union-materialized-
      // partitions design (core/src/execution_plans/shuffle_reader.rs:
      // 100) with compaction bounding the union's k.
      val idx = ensureAnnDeltaIndex(s, dir)
      val cmp = compactAnnSegments(s, dir, "v19", s"$idx/cents",
        Seq(s"$idx/cells_base", s"$idx/cells_delta"))
      val cents = s.read.parquet(s"$cmp/cents")
      val cells = s.read.parquet(s"$cmp/cells")
      val e = Tables.load(s, dir, "embeddings")
      val nBase = e.filter(col("vec_id") % 7 =!= 0).count()
      heldOutTopK(e, cents, cells, nBase, 5)
        .select(col("q_id"), col("c_id"), col("rnk"), col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },

    "v23_delta_recall" -> { (s, dir) =>
      // RECALL AUDIT of the delta-append index — v07's harness aimed
      // at v19's serving path: does quantizing arrivals under the
      // FROZEN base codebook (no retrain) cost recall, and is the
      // loss concentrated on the DELTA vectors (the staleness signal
      // the seg tag exists to expose)? Ground truth is brute-force
      // top-5 over the full indexed corpus (the |Q|-bounded theta
      // join, v15's discipline: 20 queries broadcast, never corpus ×
      // corpus); the approximate answer is v19's own probed top-5.
      // Per query: hits (of 5), how many true neighbors live in the
      // delta segment, how many of those the index recovered, and
      // recall as the exact integer ratio (bit-identical doubles
      // across engines). At 100 TB this report is the nightly gate
      // that decides when the codebook must retrain: hits_delta
      // falling away from n_truth_delta while base recall holds is
      // drift, measured, not guessed.
      val approx = queries("v19_delta_ann")(s, dir)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      val e = Tables.load(s, dir, "embeddings")
      // The 20-query slice is the BUILD side, explicitly: at test SF
      // the unfiltered corpus estimates smaller than the range-filtered
      // slice and Catalyst would broadcast the corpus — exactly the
      // side that grows 100× at scale.
      val truth = broadcast(queryEmb(e, HeldOut))
        .join(corpusEmb(e), col("q_id") =!= col("c_id"))
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(bySim))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("c_id"),
          when(col("c_id") % 7 === 0, 1L).otherwise(0L).as("is_delta"))
      truth.join(approx, Seq("q_id", "c_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(count(col("hit")).as("hits"),
          sum(col("is_delta")).as("n_truth_delta"),
          sum(when(col("hit").isNotNull, col("is_delta"))
            .otherwise(0L)).as("hits_delta"))
        .withColumn("recall", col("hits").cast("double") / 5.0)
        .orderBy(col("q_id"))
    },

    "v20_ivfpq_adc" -> { (s, dir) =>
      // IVF-PQ — the two halves finally composed (FAISS's IndexIVFPQ,
      // the billion-vector production layout): a TRAINED coarse
      // quantizer (K=16 spherical-Lloyd cells, v09's arithmetic, T=1)
      // partitions the corpus; each vector stores only its cell id plus
      // M=8 one-byte codes of its RESIDUAL (vector − cell centroid) —
      // PQ on residuals, not raw vectors, because residual energy is
      // what's left after the coarse quantizer explains the cell mean
      // (the core IVF-PQ insight; same M×K codebook spent on raw
      // vectors wastes bits re-encoding the cell offset). Serving:
      // probe top-4 cells, build the query's PER-CELL residual distance
      // table (probes × M × K = 640 integer rows — broadcast), scan
      // ONLY probed cells' codes via M table lookups + adds, exact
      // re-rank the 20-candidate shortlist. Scale: training broadcasts
      // codebooks (never the corpus), encode is linear map-side work,
      // and the serving scan touches |probed cells| · codes — no float
      // payloads until the shortlist re-rank. All arithmetic is the
      // v09/v10 integer discipline, so codebooks, codes, and ADC ranks
      // are bit-identical in the oracle.
      val e = Tables.load(s, dir, "embeddings")
      val qvAll = ivfQv(e).persist(StorageLevel.MEMORY_AND_DISK)
      val cents = ivfTrain(qvAll, ivfSeed(qvAll, 16), 1)
      def subSlices(src: Column): Column =
        array((0 until PqM).map(m =>
          slice(src, m * PqSub + 1, PqSub)): _*)
      // Residual = quantized vector − its cell's centroid, exact int64.
      val resid = ivfAssign(qvAll, cents)
        .join(broadcast(cents), "cid")
        .select(col("vec_id"), col("cid").as("cell"),
          zip_with(col("qv"), col("cv"), (x, c) => x - c).as("rv"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val rsubs = resid.select(col("vec_id"), col("cell"),
        posexplode_outer(subSlices(col("rv"))).as(Seq("m", "sub")))
      // Residual PQ codebook: md5-seeded sub-vectors + one floor-mean
      // Lloyd round (pqEncode's recipe, trained on residual space).
      val mk = md5(col("vec_id").cast("string").cast("binary"))
      val seeds = resid.orderBy(mk, col("vec_id")).limit(PqK)
        .withColumn("code",
          (row_number().over(Window.orderBy(mk, col("vec_id"))) - 1)
            .cast("long"))
      val seedSub = seeds.select(col("code"),
        posexplode(subSlices(col("rv"))).as(Seq("m", "cv")))
      // Same round-16 rewrite as pqEncode's assign: per-subspace argmin
      // via the codegen'd ivf_argmin over a broadcast per-m codebook
      // array — no N·M·K fan-out, no (vec_id, m) Exchange+Sort per
      // call. Identical (dist, code) tie rule, exact int64.
      def assign(cb: DataFrame): DataFrame = {
        val cbArr = cb.groupBy(col("m"))
          .agg(sort_array(collect_list(struct(col("code").as("cid"),
            col("cv")))).as("marr"))
        rsubs.join(broadcast(cbArr), "m")
          .select(col("vec_id"), col("cell"), col("m"), col("sub"),
            call_function("ivf_argmin", col("sub"), col("marr"))
              .as("code"))
          .filter(col("code").isNotNull)
      }
      val rcb = assign(seedSub)
        .select(col("m"), col("code"),
          posexplode_outer(col("sub")).as(Seq("dim", "v")))
        .groupBy(col("m"), col("code"), col("dim"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("mval"))
        .groupBy(col("m"), col("code"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mval"))))
          .as("mv"))
        .select(col("m"), col("code"),
          transform(col("mv"), st => st.getField("mval")).as("cv"))
        // 64 rows feeding the encode + the query distance table —
        // persist so the training aggregates run once (pqEncode note).
        .persist(StorageLevel.MEMORY_AND_DISK)
      val codes = assign(rcb)
        .select(col("vec_id"), col("cell"), col("m"), col("code"))
        // Exchange-free encode (argmin projection) has no shuffle for
        // AQE to reuse across the adc/ncand branches — persist the tiny
        // (ids, code) rows instead (pqEncode note).
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Held-out queries: top-4 cells, per-cell residual distance table.
      val probes = rankCells(qvAll.filter(HeldOut), cents)
        .filter(col("prn") <= 4)
        .select(col("q_id"), col("qv"), col("cid").as("p_cell"),
          col("cv"))
      val qrsubs = probes
        .select(col("q_id"), col("p_cell"),
          zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
        .select(col("q_id"), col("p_cell"),
          posexplode_outer(subSlices(col("qr"))).as(Seq("m", "qsub")))
      val dtab = qrsubs.join(broadcast(rcb), "m")
        .select(col("q_id"), col("p_cell"), col("m").as("dm"),
          col("code").as("dcode"), intSqDist(col("qsub"), col("cv")).as("d"))
      val adc = codes.join(broadcast(dtab),
          col("p_cell") === col("cell") && col("dm") === col("m") &&
            col("dcode") === col("code") && col("q_id") =!= col("vec_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("d")).as("adc_dist"))
      val wa = Window.partitionBy(col("q_id"))
        .orderBy(col("adc_dist"), col("vec_id"))
      val short = adc.withColumn("rn", row_number().over(wa))
        .filter(col("rn") <= PqShortlist)
      val truth = exactTruth(e, HeldOut)
      val rr5 = short
        .select(col("q_id"), col("vec_id").as("c_id"))
        .join(queryEmb(e, HeldOut), "q_id")
        .join(corpusEmb(e), "c_id")
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rrk", row_number().over(bySim))
        .filter(col("rrk") <= 5)
      val ncand = adc.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_cand"))
      val hits = recallHits(truth, short.filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id").as("c_id")), "hits_adc")
      ncand.join(hits, "q_id").join(recallHits(truth, rr5, "hits_rr"), "q_id")
        .select(col("q_id"), col("n_cand"), col("hits_adc"),
          (col("hits_adc").cast("double") / 5.0).as("recall_adc"),
          col("hits_rr"),
          (col("hits_rr").cast("double") / 5.0).as("recall_rr"))
        .orderBy(col("q_id"))
    },

    "v01_knn_brute" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      queryEmb(e, col("vec_id") < 20)
        .join(corpusEmb(e), col("q_id") =!= col("c_id"))
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(bySim).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("c_id"), col("rnk"), col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },

    "v02_knn_lsh" -> { (s, dir) =>
      val e = withBucket(Tables.load(s, dir, "embeddings"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket"))
      val c = e.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"), col("bucket").as("cbucket"))
      q.join(c, col("bucket") === col("cbucket") &&
          col("q_id") =!= col("c_id"))
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(bySim).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("c_id"), col("rnk"), col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },

    "v04_knn_ivf" -> { (s, dir) =>
      // IVF variant: a fixed codebook (stand-in for offline k-means — the
      // first 16 vectors), every vector assigned to its nearest centroid
      // cell, search confined to the query's cell. At scale the cell id is
      // the partition key; candidate work is |cell| not |corpus|.
      val e = Tables.load(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      def assign(df: DataFrame, idCol: String): DataFrame = {
        val w = Window.partitionBy(col(idCol))
          .orderBy(col("csim").desc, col("cent_id"))
        df.crossJoin(broadcast(cents))
          .withColumn("csim", expr("cosine_sim(embedding, cent_emb)"))
          .withColumn("crn", row_number().over(w))
          .filter(col("crn") === 1)
          .drop("csim", "crn", "cent_emb")
      }
      val assigned = assign(e, "vec_id")
      val q = assigned.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("cent_id").as("q_cell"))
      val c = assigned.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"), col("cent_id").as("c_cell"))
      q.join(c, col("q_cell") === col("c_cell") &&
          col("q_id") =!= col("c_id"))
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(bySim).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("c_id"), col("rnk"), col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },

    "v16_filtered_knn" -> { (s, dir) =>
      // FILTERED vector search — top-k under a metadata predicate that
      // depends on the query (here: candidates must share the query's
      // label; "nearest within my class" — the filtered-ANN shape every
      // production vector store exposes). The predicate is part of the
      // JOIN key, so this is not a post-filter of v01: candidates
      // partition by label and per-query work is |class|, not |corpus|
      // (post-filtering top-k instead would silently return < k rows).
      // At scale the index side compounds: an IVF variant keys cells by
      // (label, cell) so the filter prunes partitions before any
      // distance math. Exact brute force within the class here — the
      // same bounded-|Q| baseline contract as v01.
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label"))
      val c = e.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"), col("label").as("clabel"))
      q.join(c, col("label") === col("clabel") &&
          col("q_id") =!= col("c_id"))
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(bySim).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("label").cast("long").as("label"),
          col("c_id"), col("rnk"), col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },

    "v05_quantize_int8" -> { (s, dir) =>
      // Symmetric int8 quantization per vector (the storage-side play for
      // 100 TB embedding corpora: 4x smaller than float32, dot products
      // in integer SIMD). Scale = 127 / max|x|; everything is per-row
      // projection — no shuffle at all until the final ORDER BY.
      // Graded output carries the codes as a CSV string: the oracle
      // harness's pandas compare cannot hash an array<long> column (the r2
      // v05 crash); the true array form is pinned in SimilaritySpec.
      quantizeInt8(s, dir)
        .select(col("vec_id"),
          array_join(transform(col("q8"), x => x.cast("string")), ",")
            .as("q8_csv"),
          col("max_abs"))
        .orderBy(col("vec_id"))
    },

    "v03_neardup_embed" -> { (s, dir) =>
      neardupPairs(s, dir)
        .orderBy(col("sim").desc, col("va"), col("vb"))
    },

    "v06_semdedup" -> { (s, dir) =>
      // SemDeDup-style embedding dedup, greedy keep-one: a vector is
      // DROPPED iff some smaller-id vector shares a (capped) LSH band
      // bucket with it and is a near-duplicate (the (va < vb) pair mined
      // by v03's banded miner). Greedy min-id survivorship — not
      // transitive closure; the closure variant for text is d06/d07. One
      // capped bucket join + one anti join: per-bucket work <= tau^2,
      // nothing corpus-broadcast, scale-safe at 100x.
      val pairs = neardupPairs(s, dir).select(col("vb"))
      Tables.load(s, dir, "embeddings")
        .join(pairs, col("vec_id") === col("vb"), "left_anti")
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    },

    "v07_ann_recall" -> { (s, dir) =>
      // ANN QUALITY EVALUATION — the recall-vs-cost sweep a production
      // ANN deployment runs before trusting an index: exact brute-force
      // top-5 (bounded query set) as ground truth, the LSH
      // bucket-restricted top-5 as the approximate answer at TWO bucket
      // widths (4-bit = 1/16 of the corpus per probe, 2-bit = 1/4),
      // hits counted per query by joining on (query, neighbor). Recall
      // is an exact integer ratio (hits / 5) so the doubles are
      // bit-identical across engines; both rankings tie-break on the
      // neighbor id. On this near-uniform synthetic corpus the sweep
      // correctly surfaces near-chance recall rising with bucket
      // coarseness — exactly the signal this harness exists to measure.
      val eb = withBucket(Tables.load(s, dir, "embeddings"))
        .withColumn("bucket2", col("bucket") % 4) // first 2 hyperplane bits
      val q = eb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket"), col("bucket2"))
      val c = eb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"), col("bucket").as("cb"),
        col("bucket2").as("cb2"))
      def approx(cond: Column): DataFrame =
        q.join(c, cond && col("q_id") =!= col("c_id"))
          .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
          .withColumn("rnk", row_number().over(bySim))
          .filter(col("rnk") <= 5)
      val truth = queries("v01_knn_brute")(s, dir)
        .select(col("q_id"), col("c_id"))
      recallHits(truth, approx(col("bucket") === col("cb")), "hits_4bit")
        .join(recallHits(truth, approx(col("bucket2") === col("cb2")),
          "hits_2bit"), "q_id")
        .withColumn("recall_4bit", col("hits_4bit").cast("double") / 5.0)
        .withColumn("recall_2bit", col("hits_2bit").cast("double") / 5.0)
        .orderBy(col("q_id"))
    },

    "v08_ivf_rerank" -> { (s, dir) =>
      // THE PRODUCTION ANN PATH — two-stage IVF + exact re-rank, the
      // standard index shape (FAISS IVFFlat): v07 measured hyperplane LSH
      // at near-chance recall on this near-uniform corpus (0.10 @ 4-bit,
      // 0.38 @ 2-bit = 1/4 of the corpus per probe); multi-probe IVF at
      // the SAME 1/4 candidate cost (top-4 of 16 cells, by construction)
      // reports mean recall 0.85 here. CAVEAT (caught by v09's held-out
      // harness in round 6): that 0.85 is partly QUERY-ANCHOR LEAKAGE —
      // the graded queries (vec_id < 20) overlap the codebook
      // (vec_id < 16), so most queries are their own cell's anchor. On
      // held-out queries this fixed codebook scores ~0.44; the trained
      // codebook (v09) scores ~0.59 at the same cost. v08 stays as the
      // two-stage plan shape; v09 is the honest recall measurement.
      // Stage 1: every vector assigned to its nearest centroid cell (one
      // broadcast of the 16-row codebook, never the corpus); the query
      // ranks ALL cells and probes its top 4. Stage 2: exact cosine
      // re-rank of the probed cells' members, top-5. Graded per-query
      // against the exact top-5 (v01): hits, candidate cost, recall —
      // all exact integers/ratios, so cross-engine hash-stable. At scale
      // cell id is the shuffle key and candidate work is P/K of the
      // corpus per query.
      val e = Tables.load(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      val wa = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("cent_id"))
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("csim", expr("cosine_sim(embedding, cent_emb)"))
        .withColumn("crn", row_number().over(wa))
        .filter(col("crn") === 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("cent_id").as("c_cell"))
      val wp = Window.partitionBy(col("q_id"))
        .orderBy(col("csim").desc, col("cent_id"))
      val probes = queryEmb(e, col("vec_id") < 20).crossJoin(broadcast(cents))
        .withColumn("csim", expr("cosine_sim(q_emb, cent_emb)"))
        .withColumn("prn", row_number().over(wp))
        .filter(col("prn") <= 4)
        .select(col("q_id"), col("q_emb"), col("cent_id").as("p_cell"))
      val reranked = probes.join(assigned,
          col("p_cell") === col("c_cell") && col("q_id") =!= col("c_id"))
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(bySim))
      val nCand = reranked.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_cand"))
      val truth = queries("v01_knn_brute")(s, dir)
        .select(col("q_id"), col("c_id"))
      recallHits(truth, reranked.filter(col("rnk") <= 5), "hits_ivf")
        .join(nCand, "q_id")
        .withColumn("recall_ivf", col("hits_ivf").cast("double") / 5.0)
        .select(col("q_id"), col("n_cand"), col("hits_ivf"),
          col("recall_ivf"))
        .orderBy(col("q_id"))
    },

    "v09_ivf_trained" -> { (s, dir) =>
      // TRAINED IVF codebook + LEAKAGE-FREE comparison harness — closes
      // v04/v08's fixed-codebook caveat, and in doing so CAUGHT a
      // measurement bug in v08's headline number: v08's 0.85 recall is
      // query-anchor leakage (its graded queries are vec_id < 20, its
      // codebook the vectors < 16 — so 16 of 20 queries are their own
      // cell's anchor and their neighborhoods are indexed around them by
      // construction; on held-out queries the same fixed codebook scores
      // ~0.45). This entry therefore grades BOTH codebooks on HELD-OUT
      // queries (vec_id 100..119, disjoint from both codebooks) at
      // identical probe cost: the fixed first-16 codebook vs 16 spherical
      // k-means centroids from T=2 distributed Lloyd iterations. The
      // trained codebook wins ~0.60 vs ~0.45 — the honest gap a trained
      // quantizer buys on an isotropic corpus.
      //
      // Everything is INTEGER-DETERMINISTIC so the oracle matches
      // bit-for-bit: embeddings are L2-normalized (spherical k-means —
      // the search metric is cosine, so cells must cluster directions)
      // and quantized to int64 (round(x/||x||*1000); the norm is the
      // same array-ordered double fold the cosine_sim oracle already
      // matches bit-for-bit). Assignment is exact integer L2 argmin
      // (tie-break centroid id) — on normalized vectors L2 order ==
      // cosine order; the centroid update is an element-wise floor(mean)
      // re-projected onto the 1000-sphere — int64 sums are shuffle-
      // order-invariant, so no floating-point reassociation can flip an
      // assignment. Seeding is pseudo-random but exact: the 16 vectors
      // with smallest md5(vec_id) (a TakeOrdered top-k, not a scan
      // prefix — scan order is not a property to rely on at scale).
      // Each Lloyd round: one broadcast of the K-row codebook (never the
      // corpus), one argmin, one (cid, dim) aggregation — linear in N,
      // executor-bound; K would scale ~sqrt(N) in production.
      val e = Tables.load(s, dir, "embeddings")
      // Feeds 2 Lloyd assigns + final assign + probe side. Training
      // arithmetic lives in the shared ivf* helpers above (the
      // SPHERICAL re-projection note included).
      val qvAll = ivfQv(e).persist(StorageLevel.MEMORY_AND_DISK)
      val trained = ivfTrain(qvAll, ivfSeed(qvAll, 16), 2)
      val fixed = qvAll.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("qv").as("cv"))
      // Held-out queries: disjoint from both codebooks' anchor/seed
      // space. Each leg probes its codebook's top-4 cells.
      val truth = exactTruth(e, HeldOut)
      ivfRecallLeg(e, qvAll, truth, fixed, 4, "fx")
        .join(ivfRecallLeg(e, qvAll, truth, trained, 4, "tr"), "q_id")
        .select(col("q_id"), col("n_cand_fx"), col("hits_fx"),
          col("recall_fx"), col("n_cand_tr"), col("hits_tr"),
          col("recall_tr"))
        .orderBy(col("q_id"))
    },

    "v17_ivf_sqrtn" -> { (s, dir) =>
      // K ∝ √N TRAINED IVF — v09's production-sizing step: the same
      // integer-deterministic spherical-Lloyd machinery, but the
      // codebook is sized K = round(√N) (the standard IVF rule — the
      // per-query cell scan N/K and the K-row codebook probe balance at
      // √N) and trained one round longer (T=3 vs v09's 2). Graded like
      // v09: both codebooks on the same held-out queries at ~equal
      // candidate volume — the √N leg probes round(K/4) cells so the
      // probed corpus fraction stays ~1/4, matching the 16-cell leg's
      // 4-probe cost. Smaller, purer cells at fixed probe fraction
      // should hold or beat the K=16 recall; n_cand columns in the
      // output keep the cost comparison honest. K and the probe count
      // derive from ONE driver-side count (a parquet-metadata lookup,
      // not a corpus scan); everything else is v09's exact arithmetic,
      // so the DuckDB twin (which derives K/P with scalar subqueries)
      // is still bit-identical. The √N codebook trains on the bounded
      // 256·K md5-sample ([[ivfSample]]): Lloyd rounds cost 256·K²
      // ≈ 256·N distance evals instead of N·√N, and the corpus pays
      // one full N×K assignment per leg (the `cells` build) — the
      // FAISS training-budget shape. The oracle recomputes the same
      // sample, so results stay bit-identical even where 256·K < N.
      val e = Tables.load(s, dir, "embeddings")
      // Feeds the count, the training sample, final assigns + probes.
      val qvAll = ivfQv(e).persist(StorageLevel.MEMORY_AND_DISK)
      val n = qvAll.count()
      val c16 = ivfTrain(qvAll, ivfSeed(qvAll, 16), 2)
      val csq = ivfTrainSampled(qvAll, ivfK(n), 3)
      val truth = exactTruth(e, HeldOut)
      val sq = ivfRecallLeg(e, qvAll, truth, csq, nProbeFor(n), "sq")
      ivfRecallLeg(e, qvAll, truth, c16, 4, "16").join(sq, "q_id")
        .select(col("q_id"), col("n_cand_16"), col("hits_16"),
          col("recall_16"), col("n_cand_sq"), col("hits_sq"),
          col("recall_sq"))
        .orderBy(col("q_id"))
    },

    "v18_indexed_ann" -> { (s, dir) =>
      // SERVING shape of the trained-IVF path — the v-family twin of
      // d21's materialized ingest index, and v17's production
      // follow-through: the √N codebook and the corpus cell assignment
      // come from the parquet artifact [[ensureAnnIndex]] maintains;
      // this query quantizes ONLY the |Q| probe vectors and walks
      // codebook (broadcast) → probed cells (index scan) → exact
      // cosine re-rank. The plan contains no training and no corpus
      // quantization pass — per-query cost is the K-row argmin plus
      // the probed cells' re-rank, at any corpus size. Body shared
      // with v25b's vector shortlist via [[indexedAnnShortlist]].
      indexedAnnShortlist(s, dir, 5)
        .orderBy(col("q_id"), col("rnk"))
    },

    "v10_pq_codes" -> { (s, dir) =>
      // PRODUCT-QUANTIZATION encode — the stored artifact of the
      // memory-bound billion-vector ANN path (IVF-PQ's second half):
      // each 64-dim float vector compresses to M=4 sub-space codes of
      // K=8 centroids (4 bytes vs 256 — 64x), trained per subspace with
      // one integer Lloyd iteration from md5-seeded sub-vectors (v09's
      // arithmetic at subspace granularity, so the oracle reproduces
      // the codebooks and every code bit-for-bit). Encode is linear in
      // the corpus: the 32-row codebook broadcasts, each vector does
      // M x K integer sub-distances; nothing corpus-sized shuffles.
      val (_, _, _, codes) = pqEncode(s, dir)
      val wide = (0 until PqM).map(m =>
        max(when(col("m") === m, col("code"))).as(s"code$m"))
      codes.groupBy(col("vec_id")).agg(wide.head, wide.tail: _*)
        .orderBy(col("vec_id"))
    },

    "v11_pq_adc" -> { (s, dir) =>
      // PQ ASYMMETRIC-DISTANCE search (ADC) harness over held-out
      // queries (vec_id 100..119, disjoint from the md5 seed set with
      // overwhelming probability — and the oracle recomputes the same
      // seeds, so even an overlap grades identically): per query build
      // the M x K distance TABLE once (640 rows total — broadcast),
      // then score every stored code by 4 table lookups + adds — the
      // scan never touches float payloads, which is the whole point of
      // PQ at 100 TB (codes are 64x smaller than vectors, so the scan
      // is memory-bandwidth-cheap and embarrassingly parallel). Graded
      // output: ADC top-5 vs exact-cosine top-5 hits/recall plus the
      // integer ADC mass of the chosen 5 (adds hash signal beyond the
      // hit count).
      val (_, subs, cb, codes) = pqEncode(s, dir)
      val qsubs = subs.filter(HeldOut)
        .select(col("vec_id").as("q_id"), col("m"), col("sub").as("qsub"))
      val dtab = qsubs.join(broadcast(cb), "m")
        .select(col("q_id"), col("m"), col("code"),
          intSqDist(col("qsub"), col("cv")).as("d"))
      val adc = codes.join(broadcast(dtab), Seq("m", "code"))
        .filter(col("q_id") =!= col("vec_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("d")).as("adc_dist"))
      val wa = Window.partitionBy(col("q_id"))
        .orderBy(col("adc_dist"), col("vec_id"))
      val short = adc.withColumn("rn", row_number().over(wa))
        .filter(col("rn") <= PqShortlist)
      val top5 = short.filter(col("rn") <= 5)
      val e = Tables.load(s, dir, "embeddings")
      val truth = exactTruth(e, HeldOut)
      // Exact-cosine re-rank of the ADC shortlist — the second half of
      // the production PQ pipeline: the code scan prunes the corpus to
      // PqShortlist rows per query, and only those touch float payloads.
      val rr5 = short
        .select(col("q_id"), col("vec_id").as("c_id"))
        .join(queryEmb(e, HeldOut), "q_id")
        .join(corpusEmb(e), "c_id")
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rrk", row_number().over(bySim))
        .filter(col("rrk") <= 5)
        .select(col("q_id"), col("c_id"))
      val hits = recallHits(truth,
        top5.select(col("q_id"), col("vec_id").as("c_id")), "hits_adc")
      val hitsRr = recallHits(truth, rr5, "hits_rr")
      val adcsum = top5.groupBy(col("q_id"))
        .agg(sum(col("adc_dist")).as("adc_top5"))
      hits.join(hitsRr, "q_id").join(adcsum, "q_id")
        .select(col("q_id"), col("hits_adc"),
          (col("hits_adc").cast("double") / 5.0).as("recall_adc"),
          col("hits_rr"),
          (col("hits_rr").cast("double") / 5.0).as("recall_rr"),
          col("adc_top5"))
        .orderBy(col("q_id"))
    },

    "v24_pq_sdc" -> { (s, dir) =>
      // PQ SYMMETRIC-distance audit (SDC vs ADC) — the quantization
      // design decision v11 takes on faith, measured: SDC scores a
      // query by its OWN code through the precomputed M×K×K
      // code-to-code table (both sides quantized — double the
      // quantization error, but the query never touches floats: the
      // shape a code-only index must use when raw query vectors are
      // unavailable, e.g. joining two PQ-compressed corpora), while
      // ADC keeps the query exact. Per query: SDC top-5 recall vs
      // exact-cosine truth next to ADC's on the SAME codebook, plus
      // the integer SDC mass of the chosen 5 — the measured gap that
      // justifies paying ADC's per-query K×M table build at serving
      // time. All distances are exact int64 (intSqDist on quantized
      // grids), so both engines agree bit-for-bit.
      //
      // Scale shape: the SDC table is M·K² = 512 rows precomputed
      // ONCE from the codebook alone (corpus-independent — at 100 TB
      // it is a build-time artifact, not a per-query cost) and
      // broadcast; the corpus-side scan is the same codes-only
      // equi-join as v11 — 4 table lookups + adds per stored code,
      // no float payloads, embarrassingly parallel.
      val (_, subs, cb, codes) = pqEncode(s, dir)
      val sdcTab = cb.join(
          cb.select(col("m").as("mb"), col("code").as("code_b"),
            col("cv").as("cvb")),
          col("m") === col("mb"))
        .select(col("m"), col("code").as("code_a"), col("code_b"),
          intSqDist(col("cv"), col("cvb")).as("d"))
      val qcodes = codes.filter(HeldOut)
        .select(col("vec_id").as("q_id"), col("m"),
          col("code").as("code_a"))
      val qtab = qcodes.join(broadcast(sdcTab), Seq("m", "code_a"))
        .select(col("q_id"), col("m"), col("code_b"), col("d"))
      val sdc = codes.as("k").join(broadcast(qtab).as("qt"),
          col("k.m") === col("qt.m") && col("k.code") === col("qt.code_b"))
        .filter(col("q_id") =!= col("vec_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("d")).as("sdc_dist"))
      val ws = Window.partitionBy(col("q_id"))
        .orderBy(col("sdc_dist"), col("vec_id"))
      val top5s = sdc.withColumn("rn", row_number().over(ws))
        .filter(col("rn") <= 5)
      // ADC on the same artifacts (v11's table) for the side-by-side.
      val qsubs = subs.filter(HeldOut)
        .select(col("vec_id").as("q_id"), col("m"), col("sub").as("qsub"))
      val dtab = qsubs.join(broadcast(cb), "m")
        .select(col("q_id"), col("m"), col("code"),
          intSqDist(col("qsub"), col("cv")).as("d"))
      val adc = codes.join(broadcast(dtab), Seq("m", "code"))
        .filter(col("q_id") =!= col("vec_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("d")).as("adc_dist"))
      val wa = Window.partitionBy(col("q_id"))
        .orderBy(col("adc_dist"), col("vec_id"))
      val top5a = adc.withColumn("rn", row_number().over(wa))
        .filter(col("rn") <= 5)
      val truth = exactTruth(Tables.load(s, dir, "embeddings"), HeldOut)
      val hitsS = recallHits(truth,
        top5s.select(col("q_id"), col("vec_id").as("c_id")), "hits_sdc")
      val hitsA = recallHits(truth,
        top5a.select(col("q_id"), col("vec_id").as("c_id")), "hits_adc")
      val sdcsum = top5s.groupBy(col("q_id"))
        .agg(sum(col("sdc_dist")).as("sdc_top5"))
      hitsS.join(hitsA, "q_id").join(sdcsum, "q_id")
        .select(col("q_id"), col("hits_sdc"),
          (col("hits_sdc").cast("double") / 5.0).as("recall_sdc"),
          col("hits_adc"),
          (col("hits_adc").cast("double") / 5.0).as("recall_adc"),
          col("sdc_top5"))
        .orderBy(col("q_id"))
    },

    "v12_dim_stats" -> { (s, dir) =>
      // Per-DIMENSION calibration report over the v05 int8 codes — what
      // one inspects before trusting symmetric quantization at corpus
      // scale: per-dim count/sum/sum-of-squares (exact int64), mean,
      // variance, and the saturation count (|q| = 127 ⇒ the dim is
      // clipping and needs per-dim scales). Variance is the exact
      // integer numerator (n·Σq² − (Σq)²) over n² — ONE double division,
      // no accumulated float error, bit-identical across engines (the
      // int64 numerator overflows only past ~7·10⁸ rows; beyond that,
      // per-partition pre-aggregation into HUGEINT-style split sums
      // would be the move). Shape: one posexplode (64 rows per vector)
      // into a 64-key groupBy with map-side partials — the per-dim
      // reduce is the cheapest possible full-corpus pass.
      quantizeInt8(s, dir)
        .select(posexplode_outer(col("q8")).as(Seq("dim", "q")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("sum_q"),
          sum(col("q") * col("q")).as("sumsq_q"),
          sum(when(abs(col("q")) === 127L, 1L).otherwise(0L)).as("n_sat"))
        .withColumn("mean_q", col("sum_q").cast("double") / col("n"))
        .withColumn("var_q",
          (col("n") * col("sumsq_q") - col("sum_q") * col("sum_q"))
            .cast("double") / (col("n") * col("n")).cast("double"))
        .orderBy(col("dim"))
    },

    "v13_per_dim_quant" -> { (s, dir) =>
      // Per-DIMENSION quantization scales — the fix v12's saturation
      // report motivates: v05's per-vector scale clips every dimension
      // whose range is narrower than the vector's loudest one; scaling
      // each dim by ITS OWN corpus max removes that. Graded by the
      // before/after saturation counts per dim (exact integers; "after"
      // saturates only at the per-dim extremes by construction).
      // Scale design: the per-dim max is a 64-row aggregate (one shuffle
      // of partial maxes — float max is order-independent, so it is
      // gate-deterministic, unlike a float SUM) broadcast back to a
      // pure per-row re-quantization projection; nothing corpus-sized
      // moves. The same two-pass shape (tiny stats pass → projection)
      // is how a real pipeline calibrates any per-feature codec.
      val ed = transform(col("embedding"), x => x.cast("double"))
      val ex = Tables.load(s, dir, "embeddings")
        .filter(col("embedding").isNotNull) // NULL guard (see quantizeInt8)
        .select(posexplode_outer(ed).as(Seq("dim", "x")))
      val dimMax = ex.groupBy(col("dim").cast("long").as("dim"))
        .agg(max(abs(col("x"))).as("dim_max"))
      val perVec = quantizeInt8(s, dir)
        .select(posexplode_outer(col("q8")).as(Seq("dim", "q")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(sum(when(abs(col("q")) === 127L, 1L).otherwise(0L))
          .as("n_sat_vec"))
      val perDim = ex
        .join(broadcast(dimMax), ex("dim").cast("long") === dimMax("dim"))
        .select(dimMax("dim").as("dim"),
          when(col("dim_max") === 0.0, lit(0L))
            .otherwise(round(col("x") / col("dim_max") * 127.0)
              .cast("long")).as("qd"))
        .groupBy(col("dim"))
        .agg(sum(when(abs(col("qd")) === 127L, 1L).otherwise(0L))
          .as("n_sat_dim"))
      dimMax.join(perVec, "dim").join(perDim, "dim")
        .select(col("dim"), col("dim_max"), col("n_sat_vec"),
          col("n_sat_dim"))
        .orderBy(col("dim"))
    },

    "v28_int8_recall_audit" -> { (s, dir) =>
      // QUANTIZED-SERVING recall audit — what int8 codes actually cost
      // in ranking quality, measured instead of assumed: the exact
      // float cosine top-5 (v01's brute-force truth) against the top-5
      // under v05/v13's per-vector int8 codes ranked by their INTEGER
      // dot product (the arithmetic an int8 serving tier really runs —
      // per-vector scales make code-dot ≠ cosine, and THAT distortion
      // is the graded signal; |dot| ≤ 64·127² keeps every score an
      // exact int64 both engines agree on bit-for-bit). Per query:
      // shortlist overlap@5 and whether the top-1 survives — the
      // go/no-go numbers for replacing a float re-rank tier with int8.
      // Scale shape: the ≤20-row query side broadcasts into both
      // passes (the v01/v15/v23 bounded-slice rule); the int8 pass
      // scans CODES only (64 int64s, no float embeddings) — the
      // bandwidth saving that motivates int8 serving in the first
      // place; ranks ride WindowGroupLimit, the final compare joins
      // two ≤100-row shortlists.
      val exact = queries("v01_knn_brute")(s, dir)
        .select(col("q_id"), col("c_id"), col("rnk").as("r_f"))
      val q8 = quantizeInt8(s, dir).select(col("vec_id"), col("q8"))
      val qs = q8.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("q8").as("qa"))
      val cs = q8.select(col("vec_id").as("c_id"), col("q8").as("qb"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dot").desc, col("c_id"))
      val i8 = broadcast(qs).join(cs, col("q_id") =!= col("c_id"))
        .withColumn("dot", aggregate(
          zip_with(col("qa"), col("qb"), (x, y) => x * y),
          lit(0L), (a, v) => a + v))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("c_id"), col("rnk").as("r_q"))
      exact.join(i8, Seq("q_id", "c_id"), "full_outer")
        .groupBy(col("q_id"))
        .agg(sum(when(col("r_f").isNotNull && col("r_q").isNotNull, 1L)
          .otherwise(0L)).as("n_overlap"),
          max(when(col("r_f") === 1L, col("c_id"))).as("top1_f"),
          max(when(col("r_q") === 1L, col("c_id"))).as("top1_q"))
        .select(col("q_id"), col("n_overlap"),
          when(col("top1_f") === col("top1_q"), 1L).otherwise(0L)
            .as("top1_same"))
        .orderBy(col("q_id"))
    },

    "v29_two_level_assign" -> { (s, dir) =>
      // TWO-LEVEL IVF assignment — the scale path for the one N×K pass
      // the √N harness still pays. Found at the round-12 sf10 leg:
      // v17's full flat assignment is N·√N distance evals (2.8·10⁹ at
      // sf10 — the suite's wall; at 100 TB it is simply not runnable).
      // The standard fix (IMI / hierarchical k-means): group the K fine
      // centroids under G = round(√K) coarse centroids (a Lloyd over K
      // rows — free), route each corpus vector to its nearest coarse
      // group (N·G), then take the exact argmin among only that group's
      // fine centroids (N·K/G expected) — ~2·N·√K total, an ~18× cut at
      // sf10 and asymptotically N·N^(1/4). The route is APPROXIMATE (a
      // vector's true nearest fine centroid can sit in a non-nearest
      // group), so the graded report measures the damage instead of
      // assuming it away: per coarse group, the corpus population and
      // fine-cell usage, plus flat-vs-two-level agreement on the
      // deterministic 1/97 sample (the a20 bounded-sample rule — the
      // flat argmin runs ONLY on the sample). Everything is the same
      // order-invariant integer arithmetic as v09/v17, so the DuckDB
      // twin is bit-identical; both argmins are struct-MIN aggregates /
      // row_number twins with (dist, cid) ties. Codebooks broadcast at
      // every step; the corpus never shuffles.
      val e = Tables.load(s, dir, "embeddings")
      val qvAll = ivfQv(e).persist(StorageLevel.MEMORY_AND_DISK)
      val kSq = ivfK(qvAll.count())
      val cents = ivfTrainSampled(qvAll, kSq, 3) // the v17/v18 codebook
      // Round 15: the route itself is the shared [[twoLevelAssign]] —
      // the exact code path every index build now assigns through — so
      // this audit grades the production assignment, not a twin of it.
      val two = twoLevelAssign(qvAll, cents, kSq)
        .select(col("vec_id"), col("gid"), col("cid").as("cell"))
      val flat = ivfAssign(qvAll.filter(col("vec_id") % 97 === 0), cents)
        .select(col("vec_id").as("sv"), col("cid").as("flat_cell"))
      two.join(flat, col("vec_id") === col("sv"), "left_outer")
        .groupBy(col("gid"))
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("cell")).as("n_fine_used"),
          sum(when(col("sv").isNotNull, 1L).otherwise(0L)).as("n_sample"),
          sum(when(col("cell") === col("flat_cell"), 1L).otherwise(0L))
            .as("n_agree"))
        .orderBy(col("gid"))
    },

    "v30_retrain_gate" -> { (s, dir) =>
      // RETRAIN-DECISION GATE (round 16) — the graded decision the
      // v23/v28 audits exist to drive, closing the serving lifecycle
      // the way d43/v19b closed storage: measurements that nothing
      // acts on are dashboards, not gates. One row: the exact integer
      // evidence (suite-level sums of v23's delta-recall audit and
      // v28's int8-agreement audit), a 0/1 verdict per pinned policy
      // axis ([[RetrainRecallMinPct]] etc. — thresholds shared
      // verbatim with the DuckDB twin), and the keep/retrain decision
      // a nightly index job would branch on. All comparisons are
      // integer cross-multiplications (sum·100 ≥ pct·denominator) —
      // no float thresholds, so the decision is bit-identical across
      // engines by construction. Cost: the two audits it aggregates
      // (both |Q|-bounded probes over materialized artifacts); the
      // gate itself is two 1-row aggregates and a broadcast cross
      // join — nothing corpus-sized moves, at any scale.
      val d = queries("v23_delta_recall")(s, dir)
        .agg(count(lit(1)).as("n_q_delta"),
          sum(col("hits")).as("sum_hits"),
          sum(col("n_truth_delta")).as("sum_truth_delta"),
          sum(col("hits_delta")).as("sum_hits_delta"))
      val i = queries("v28_int8_recall_audit")(s, dir)
        .agg(count(lit(1)).as("n_q_int8"),
          sum(col("n_overlap")).as("sum_overlap"),
          sum(col("top1_same")).as("sum_top1"))
      d.crossJoin(broadcast(i))
        .withColumn("recall_ok",
          when(col("sum_hits") * 100L >=
            lit(RetrainRecallMinPct) * 5L * col("n_q_delta"), 1L)
            .otherwise(0L))
        .withColumn("delta_ok",
          when(col("sum_truth_delta") === 0L ||
            col("sum_hits_delta") * 100L >=
              lit(RetrainDeltaMinPct) * col("sum_truth_delta"), 1L)
            .otherwise(0L))
        .withColumn("int8_ok",
          when(col("sum_overlap") * 100L >=
            lit(RetrainInt8MinPct) * 5L * col("n_q_int8") &&
            col("sum_top1") * 100L >=
              lit(RetrainTop1MinPct) * col("n_q_int8"), 1L)
            .otherwise(0L))
        .withColumn("decision",
          when(col("recall_ok") + col("delta_ok") + col("int8_ok")
            === 3L, lit("keep")).otherwise(lit("retrain")))
    },

    "v14_embed_dup_clusters" -> { (s, dir) =>
      // Duplicate CLUSTERING over the banded embedding near-dup pairs —
      // the embedding-side twin of d06, and the step SemDeDup-style
      // pipelines run before choosing survivors: connected components
      // over v03's verified pairs, cluster id = min vec_id in the
      // component. Reuses operators/ConnectedComponents (min-label
      // propagation with pointer jumping, O(log diameter) rounds,
      // checkpoint-barriered lineage); labels stay distributed — only
      // the convergence scalar reaches the driver per round. Same
      // fixpoint as the DuckDB recursive-CTE oracle.
      val pairs = graft.operators.ConnectedComponents.barrier(
        neardupPairs(s, dir).select(col("va"), col("vb")))
      val edges = pairs
        .unionByName(pairs.select(col("vb").as("va"), col("va").as("vb")))
        .toDF("src", "dst")
      val (lab, _) = graft.operators.ConnectedComponents.run(edges)
      lab.select(col("id").as("vec_id"), col("lbl").as("cluster"))
        .orderBy(col("vec_id"))
    },

    "v15_miner_recall" -> { (s, dir) =>
      // GROUND-TRUTH recall of the banded pair miner — the closing
      // audit for the round-5 scale fix: on a bounded slice (|S|=200,
      // where brute-force all-pairs is affordable BY CONSTRUCTION — the
      // same bounded-reference pattern as v07), compare the miner's
      // pairs against every pair with cosine > 0.4. Mined pairs are
      // cosine-verified, so the miner is precision-1 by design and the
      // single number that matters is recall: what fraction of true
      // pairs the banding + bucket cap surfaces. Borderline pairs
      // (cosine barely over 0.4) agree on each hyperplane bit only
      // slightly more often than a coin flip, so 8-bit bands drop most
      // of them BY DESIGN — the miner's S-curve targets near-dups, and
      // this harness puts the exact number on what the low-similarity
      // end trades away (the same honesty v07 brought to the LSH kNN
      // index). Exact integer counts, one closing division.
      val sl = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 200)
      val mined = neardupPairsOn(sl, DefaultTau)
        .select(col("va"), col("vb"))
      val a = sl.select(col("vec_id").as("va"), col("embedding").as("ea"))
      val b = sl.select(col("vec_id").as("vb"), col("embedding").as("eb"))
      val truth = a.join(b, col("va") < col("vb"))
        .withColumn("sim", expr("cosine_sim(ea, eb)"))
        .filter(col("sim") > 0.4)
        .select(col("va"), col("vb"))
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nM = mined.agg(count(lit(1)).as("n_mined"))
      val nH = mined.join(truth, Seq("va", "vb"))
        .agg(count(lit(1)).as("n_hit"))
      nT.crossJoin(nM).crossJoin(nH)
        .select(col("n_truth"), col("n_mined"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_truth")).as("recall"))
    },

    "v21_hamming_rerank" -> { (s, dir) =>
      // BINARY-SIGNATURE ANN — sign (1-bit-per-plane) quantization with
      // a Hamming-distance shortlist and exact cosine re-rank: the
      // binary-embedding serving design (Hamming embedding / "binary
      // quantization" in production vector stores), complementing v05's
      // int8 codes and v10/v11's PQ bytes with the cheapest code of all
      // (HamBits bits per vector, one int64). The corpus scan side
      // carries ONLY (c_id, sig) — 16 bytes/row instead of a 256-byte
      // float vector, a 16× scan-bandwidth cut — and candidate scoring
      // is one xor + popcount per vector (vs 64 fused multiply-adds),
      // so the full-scan shortlist pass is memory-bound cheap at any
      // corpus size. Queries broadcast (bounded |Q|, the v01 contract);
      // only the HamShortlist survivors per query re-attach their float
      // embeddings by equi-join for the exact re-rank (the d03 rule:
      // never drag the payload through the scoring shuffle). Signatures
      // come from the codegen'd hyperplane_sig — the identical
      // integer-weight hyperplane family the DuckDB twin unrolls, so
      // sigs, Hamming ranks, and the final top-3 hash-match exactly.
      val e = Tables.load(s, dir, "embeddings")
      val sigs = e.select(col("vec_id"),
        expr(s"hyperplane_sig(embedding, $HamBits)").as("sig"))
      val q = sigs.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("sig").as("q_sig"))
      val c = sigs.select(col("vec_id").as("c_id"), col("sig").as("c_sig"))
      val wh = Window.partitionBy(col("q_id"))
        .orderBy(col("ham"), col("c_id"))
      val short = c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .withColumn("ham",
          expr("CAST(bit_count(q_sig ^ c_sig) AS BIGINT)"))
        .withColumn("hrn", row_number().over(wh))
        .filter(col("hrn") <= HamShortlist)
        .select(col("q_id"), col("c_id"), col("ham"))
      val emb = e.select(col("vec_id"), col("embedding"))
      short
        .join(emb.select(col("vec_id").as("c_id"),
          col("embedding").as("c_emb")), "c_id")
        .join(broadcast(emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"),
            col("embedding").as("q_emb"))), "q_id")
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(bySim).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("c_id"), col("rnk"), col("ham"),
          col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },

    "v22_nms_diversify" -> { (s, dir) =>
      // DIVERSIFIED top-k serving — result-set redundancy suppression,
      // the retrieval-side face of v06's SemDeDup (there: drop
      // near-identical CORPUS vectors at build; here: a corpus kept
      // redundant on purpose still must not return five copies of the
      // same thing for one query). The rule is detection-style
      // non-maximum suppression, chosen over greedy MMR because it is
      // ONE bounded self-join instead of k sequential argmax rounds: a
      // shortlist candidate is suppressed iff some HIGHER-RANKED
      // shortlist member is more similar to it than θ (by rank, not by
      // survivorship — the non-iterative NMS variant detection
      // pipelines run); survivors re-rank densely and the top 5 ship,
      // with each survivor's original rank carried so the suppression
      // is a data-visible fact. θ = 0.3 sits between this corpus's
      // within-shortlist redundancy tail (p99 ≈ 0.35) and its random
      // cross-pair level (~0.25), so the rule demonstrably fires.
      // Scale: the |Q|-bounded brute shortlist is v01's graded
      // contract (v18/v19 are the production candidate source); the
      // NMS join is shortlist×shortlist WITHIN each query — ≤ 100
      // codegen'd cosine evals per query, zero corpus passes beyond
      // the shortlist build.
      val theta = 0.3
      val e = Tables.load(s, dir, "embeddings")
      val short = queryEmb(e, col("vec_id") < 20)
        .join(corpusEmb(e), col("q_id") =!= col("c_id"))
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(bySim))
        .filter(col("rnk") <= 10)
        .select(col("q_id"), col("c_id"), col("c_emb"), col("sim"),
          col("rnk"))
      val hi = short.select(col("q_id").as("q2"), col("rnk").as("hrnk"),
        col("c_emb").as("h_emb"))
      val sup = short.join(hi, col("q_id") === col("q2") &&
          col("hrnk") < col("rnk") &&
          expr("cosine_sim(c_emb, h_emb)") > theta)
        .select(col("q_id"), col("c_id")).distinct()
      val w2 = Window.partitionBy(col("q_id")).orderBy(col("rnk"))
      short.join(sup, Seq("q_id", "c_id"), "left_anti")
        .withColumn("drnk", row_number().over(w2).cast("long"))
        .filter(col("drnk") <= 5)
        .select(col("q_id"), col("drnk"), col("c_id"), col("sim"),
          col("rnk").cast("long").as("orig_rnk"))
        .orderBy(col("q_id"), col("drnk"))
    },

    "v25_hybrid_rrf" -> { (s, dir) =>
      // HYBRID retrieval — reciprocal-rank FUSION (k = 60) of a lexical
      // shortlist and a vector shortlist, the serving pattern every
      // RAG stack runs on top of the two index families this repo
      // already grades separately (t23's BM25 side, v18's ANN side):
      // rank-based fusion needs no score calibration between the two
      // scales, which is why RRF beats score mixing across engines.
      // Here each side is computed exactly over the graded corpus —
      // lexical rank by token-set Jaccard (exact int |∩|/|∪|, one
      // double division), vector rank by cosine — and the FUSION
      // surface is what's new: a full-outer join of two per-query
      // top-20 shortlists, so its cost is shortlist×query bounded no
      // matter the corpus. At 100 TB the shortlists come from the
      // inverted-index probe and the IVF probe respectively; the fused
      // score 1/(60+r_lex) + 1/(60+r_vec) (absent rank ⇒ 0) is two
      // exact-int double divisions added in fixed literal order, so
      // both engines produce identical bits. embeddings.vec_id keys
      // documents.doc_id in the synthetic star (both are the row
      // index), making the doc↔vector join an equi-join.
      val d = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          array_distinct(split(col("text"), " ")).as("tset"))
      val e = Tables.load(s, dir, "embeddings")
      val corpus = d.join(
        e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      val q = corpus.filter(col("doc_id") < 20)
        .select(col("doc_id").as("q_id"), col("tset").as("q_tset"),
          col("embedding").as("q_emb"))
      val c = corpus.select(col("doc_id").as("c_id"),
        col("tset").as("c_tset"), col("embedding").as("c_emb"))
      // 20-query side broadcast: at test SF Catalyst can estimate the
      // filtered slice LARGER than the corpus and invert the build side.
      val pairs = broadcast(q).join(c, col("q_id") =!= col("c_id"))
      val wl = Window.partitionBy(col("q_id"))
        .orderBy(col("jac").desc, col("c_id"))
      val lex = pairs
        // stays size(array_intersect(...)): these tsets are STRING
        // token arrays (inter_count is array<bigint>-only).
        .withColumn("inter",
          size(array_intersect(col("q_tset"), col("c_tset")))
            .cast("long"))
        .withColumn("jac", col("inter").cast("double") /
          (size(col("q_tset")) + size(col("c_tset")) - col("inter"))
            .cast("double"))
        .withColumn("r_lex", row_number().over(wl).cast("long"))
        .filter(col("r_lex") <= 20)
        .select(col("q_id"), col("c_id"), col("r_lex"))
      val vec = pairs
        .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
        .withColumn("r_vec", row_number().over(bySim).cast("long"))
        .filter(col("r_vec") <= 20)
        .select(col("q_id"), col("c_id"), col("r_vec"))
      rrfFuse(lex, vec)
    },

    "v25b_hybrid_rrf_indexed" -> { (s, dir) =>
      // v25's PRODUCTION shape — hybrid RRF where both shortlists come
      // from the MATERIALIZED indexes instead of exact corpus passes
      // (the composition v25's own comment promises): the lexical side
      // probes the inverted postings index (t23's log-free BM25
      // rational over [[TextAnalysis.ensurePostingsIndex]] — work ∝
      // Σ df of the query's terms, df/dl denormalized onto the
      // postings so the probe is ONE equi-join), the vector side is
      // v18's IVF probe ([[indexedAnnShortlist]]: codebook broadcast →
      // probed cells → exact re-rank), and the fusion is the same
      // |Q|-bounded full-outer RRF join v25 grades. Queries are the
      // v18 slice (doc 100..119; doc_id keys vec_id in the synthetic
      // star), query bag = the doc's DISTINCT tokens (qtf = 1 —
      // standard bag-of-words BM25). Per-(query, doc) BM25 sums term
      // contributions in e9 FIXED-POINT — each contribution is t23's
      // exact rational floored to ⌊num·10⁹ / den⌋, int64-summable in
      // ANY order (a double sum over an unordered term set would
      // hash-flake; t23 itself dodges this with a fixed 3-term literal
      // order, which a variable query bag doesn't have) — with the
      // ×10⁹ step in DECIMAL(38) because num alone reaches ~2^50. At
      // 100 TB nothing here scans the corpus: a postings probe, a
      // cells probe, and two ≤20-row-per-query shortlists.
      val pidx = TextAnalysis.ensurePostingsIndex(s, dir)
      val postings = s.read.parquet(s"$pidx/postings")
      val vocab = s.read.parquet(s"$pidx/vocab")
      val stats = s.read.parquet(s"$pidx/stats")
      val qterms = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull &&
          col("doc_id") >= 100 && col("doc_id") < 120)
        .select(col("doc_id").as("q_id"),
          explode_outer(array_distinct(split(col("text"), " ")))
            .as("tok"))
      // Two-step probe over the dictionary-encoded index (round-12):
      // the ≤|Q|·|terms| query bag broadcasts into the vocab to pick up
      // int32 token ids (ONE string-keyed join, against the types-sized
      // vocab — never the postings), then the id'd bag broadcasts into
      // the postings equi-join, so the corpus-sized side joins on a
      // 4-byte key. OOV query tokens drop here (inner join) exactly as
      // they dropped against the string-keyed postings before.
      val qids = broadcast(qterms).join(vocab, "tok")
        .select(col("q_id"), col("tid"))
      // Round 17: the probe's parallelism comes from the postings
      // artifact's FILE LAYOUT (guide §6 — ensurePostingsIndex writes
      // range-clustered multi-file postings), not from a repartition
      // here: a spread AFTER this join was tried and measured WORSE
      // (the exchange materialized 30 MB of hit rows plus the
      // sort-before-repartition pass) while the scan stage stayed one
      // task. With the multi-file artifact the join + DECIMAL scoring
      // parallelize inside the scan stage itself, no extra exchange.
      val hits = broadcast(qids).join(postings, "tid")
        .filter(col("q_id") =!= col("c_id"))
        .crossJoin(broadcast(stats))
        // The first factor of each side is cast to DECIMAL(38,0) BEFORE
        // any multiplication (round-12, advice fix): with the cast
        // outside the product, (2n-2df+1)·tf·44·a and 20·a·tf evaluate
        // in int64 first and silently wrap (non-ANSI) once n·a-scale
        // products pass 2^63 — well below 100 TB corpus sizes — while
        // the DuckDB twin errors: an undetectable engine divergence.
        // All products now run in DECIMAL(38,0), good to 10^38 (int64
        // wraps at ~9.2·10^18; num ≈ 88·n·a·tf·10^9 stays exact up to
        // n·a·tf ≈ 10^27, e.g. 10^12 docs × 10^15 tokens).
        .withColumn("c_e9", expr(
          "CAST(CAST(2*n - 2*df + 1 AS DECIMAL(38,0))" +
            " * tf * 44 * a * 1000000000 div " +
            "(CAST(2*df + 1 AS DECIMAL(38,0))" +
            " * (20 * CAST(a AS DECIMAL(38,0)) * tf" +
            "    + 6 * CAST(a AS DECIMAL(38,0))" +
            "    + 18 * CAST(dl AS DECIMAL(38,0)) * n)) AS BIGINT)"))
      val wl = Window.partitionBy(col("q_id"))
        .orderBy(col("score_e9").desc, col("c_id"))
      val lex = hits.groupBy(col("q_id"), col("c_id"))
        .agg(sum(col("c_e9")).as("score_e9"))
        .withColumn("r_lex", row_number().over(wl).cast("long"))
        .filter(col("r_lex") <= 20)
        .select(col("q_id"), col("c_id"), col("r_lex"))
      val vec = indexedAnnShortlist(s, dir, 20)
        .select(col("q_id"), col("c_id"), col("rnk").as("r_vec"))
      rrfFuse(lex, vec)
    },

    "v26_nprobe_sweep" -> { (s, dir) =>
      // The IVF OPERATING CURVE — recall@5 and candidate volume at
      // nProbe ∈ {1,2,4,8} under ONE trained codebook (v09's K=16,
      // T=2 integer Lloyd), the vector-side twin of d15's banding
      // sweep: the calibration run that picks a serving nProbe from
      // measured recall-vs-cost instead of folklore. Sweep discipline
      // (the d15 rule): the corpus is assigned ONCE, the probe ranks
      // are computed ONCE to depth 8, and every operating point is a
      // FILTER (prn ≤ p) over the shared candidate set — four legs
      // cost one corpus scan plus three shortlist re-ranks, exactly
      // how a 100 TB calibration must run (probe depth is a query-side
      // knob; re-scanning or re-assigning the corpus per point is the
      // anti-pattern). Monotonicity is structural: each leg's
      // candidates are a superset of the previous leg's, so recall is
      // non-decreasing in p while n_cand tracks the probed fraction —
      // the graded output IS the curve.
      val e = Tables.load(s, dir, "embeddings")
      val qvAll = ivfQv(e).persist(StorageLevel.MEMORY_AND_DISK)
      val cents = ivfTrain(qvAll, ivfSeed(qvAll, 16), 2)
      val truth = exactTruth(e, HeldOut)
      val cells = ivfAssign(qvAll, cents)
        .select(col("vec_id").as("c_id"), col("cid").as("c_cell"))
        .join(corpusEmb(e), "c_id")
      val probes = rankCells(qvAll.filter(HeldOut), cents,
          row_number().over(byDist).cast("long"))
        .filter(col("prn") <= 8)
        .select(col("q_id"), col("cid").as("p_cell"), col("prn"))
      val cand = rerankCells(probes, queryEmb(e, HeldOut), cells)
        .select(col("q_id"), col("c_id"), col("prn"), col("sim"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      def leg(p: Int): DataFrame = {
        val in = cand.filter(col("prn") <= p)
        val nCand = in.groupBy(col("q_id"))
          .agg(count(lit(1)).as(s"n_cand_p$p"))
        val top5 = in.withColumn("rnk", row_number().over(bySim))
          .filter(col("rnk") <= 5)
        recallHits(truth, top5, s"hits_p$p")
          .join(nCand, "q_id")
          .withColumn(s"recall_p$p", col(s"hits_p$p").cast("double") / 5.0)
      }
      Seq(2, 4, 8).map(leg).foldLeft(leg(1))((a, b) => a.join(b, "q_id"))
        .select(col("q_id"),
          col("n_cand_p1"), col("hits_p1"), col("recall_p1"),
          col("n_cand_p2"), col("hits_p2"), col("recall_p2"),
          col("n_cand_p4"), col("hits_p4"), col("recall_p4"),
          col("n_cand_p8"), col("hits_p8"), col("recall_p8"))
        .orderBy(col("q_id"))
    },

    "v27_knn_graph" -> { (s, dir) =>
      // kNN-GRAPH structure audit — the embedding-space health report
      // behind graph-based curation (SemDeDup picks keepers, NN-descent
      // builds indexes, hubness tells you whether cosine is even
      // meaningful on this space): build the exact directed 5-NN graph
      // on a bounded slice and grade, per node, its IN-degree (hubs:
      // nodes the metric funnels everything toward), its MUTUAL-edge
      // count (symmetric neighborhoods — the edges NN-descent and
      // mutual-kNN clustering actually keep), and its top-1/top-5
      // similarity (local density). High-hubness + low-mutuality is
      // the classic symptom of concentrated distances; the fix
      // (re-normalization, dim reduction) is decided off THIS table.
      // Scale: the graph is built on a fixed 200-vector calibration
      // slice (the v05 bounded-slice rule) — one broadcast theta join,
      // 200×199 codegen'd cosines, and every downstream stat is a
      // shuffle of ≤1000 edge rows; the 100 TB corpus never joins
      // itself. Degrees and mutual counts are exact ints; top sims are
      // single cosine values (never re-aggregated doubles). Edge set
      // is tie-deterministic: row_number orders (sim DESC, b_id), so
      // duplicate embeddings (present in this corpus) rank stably.
      val e = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 200)
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      val w = Window.partitionBy(col("a_id"))
        .orderBy(col("sim").desc, col("b_id"))
      val eg = broadcast(a).join(b, col("a_id") =!= col("b_id"))
        .withColumn("sim", expr("cosine_sim(a_emb, b_emb)"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("a_id"), col("b_id"), col("sim"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val outStats = eg.groupBy(col("a_id"))
        .agg(max(col("sim")).as("top1_sim"), min(col("sim")).as("top5_sim"))
      val ind = eg.select(col("b_id").as("n_id"))
        .groupBy(col("n_id")).agg(count(lit(1)).as("in_deg"))
      val rev = eg.select(col("a_id").as("r_a"), col("b_id").as("r_b"))
      val mut = eg.join(rev,
          col("a_id") === col("r_b") && col("b_id") === col("r_a"))
        .groupBy(col("a_id")).agg(count(lit(1)).as("n_mutual"))
      outStats
        .join(ind, col("a_id") === col("n_id"), "left_outer")
        .join(mut, Seq("a_id"), "left_outer")
        .select(col("a_id").as("vec_id"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"),
          coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
          col("top1_sim"), col("top5_sim"))
        .orderBy(col("vec_id"))
    }
  )

  /** v21's signature width (bits per vector; one int64 code). 48 keeps
    * the per-plane weight family inside hyperplane_sig's 63-bit bound
    * while giving ~sqrt(48)/2 ≈ 3.5-bit Hamming resolution between
    * random 64-dim directions — enough to rank near-neighbors first. */
  private val HamBits = 48
  /** v21's Hamming shortlist size (candidates kept per query for the
    * exact cosine re-rank). */
  private val HamShortlist = 32

  private val PqM = 8   // subspaces
  private val PqK = 8   // centroids per subspace
  private val PqSub = 8 // dims per subspace (64 / PqM)
  private val PqShortlist = 20 // ADC candidates kept for exact re-rank

  /** v30 retrain-gate thresholds (round 16) — the PINNED policy the
    * v23/v28 audit measurements exist to drive, shared verbatim with
    * the DuckDB twin so both engines derive the identical decision by
    * exact integer comparison (never a float threshold): keep the
    * frozen codebook only while (a) overall probe recall holds
    * ≥ 85 % of the 5-deep truth, (b) recall ON THE DELTA SEGMENT —
    * the staleness axis, vectors quantized under a codebook that never
    * saw them — holds ≥ 70 % of the delta truth, and (c) the int8
    * serving quantizer agrees with float on ≥ 80 % of top-5 members
    * and ≥ 90 % of top-1s. Any failing axis ⇒ retrain. */
  private val RetrainRecallMinPct = 85L
  private val RetrainDeltaMinPct = 70L
  private val RetrainInt8MinPct = 80L
  private val RetrainTop1MinPct = 90L

  /** Exact integer squared L2 over equal-length int64 arrays — the
    * codegen'd [[graft.functions.IntL2Dist]] since round 16 (guide §4):
    * the `aggregate(zip_with(...))` composition this wrapped is
    * CodegenFallback (interpreted lambda dispatch + a per-row
    * intermediate array) and sat on the PQ hot paths — every
    * sub-distance of the v10/v11/v20/v24 encode/ADC/SDC family. Same
    * arithmetic bit-for-bit, same NULL-on-mismatch semantics (the
    * round-16 IntL2Dist contract), so every DuckDB twin is unchanged. */
  private def intSqDist(a: Column, b: Column): Column =
    call_function("int_l2", a, b)

  /** PQ train + encode shared by v10/v11: returns (qvAll, long-form
    * sub-vectors, trained codebook (m, code, cv), codes (vec_id, m,
    * code)). Training = one integer Lloyd iteration per subspace from
    * the PqK vectors with smallest md5(vec_id) (a TakeOrdered top-k,
    * not a scan prefix); the centroid update is a plain floor-mean —
    * sub-vectors are not directions, so PQ's per-subspace k-means is
    * Euclidean (no sphere re-projection, unlike v09's whole-vector
    * spherical step). Seeds are data points, so no cluster is ever
    * empty after one update. Codes are DENSE 0..PqK-1 (the byte a
    * production index stores), not raw seed vec_ids. */
  private def pqEncode(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // ivfQv's spread matters doubly here: without it every PQ stage
    // (encode, ADC scan, SDC scan, truth re-rank) runs as 1-task stages.
    val qvAll = ivfQv(Tables.load(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)) // NULL guard (see quantizeInt8)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def subSlices(src: Column): Column =
      array((0 until PqM).map(m =>
        slice(src, m * PqSub + 1, PqSub)): _*)
    val subs = qvAll.select(col("vec_id"),
      posexplode_outer(subSlices(col("qv"))).as(Seq("m", "sub")))
    val mk = md5(col("vec_id").cast("string").cast("binary"))
    val seed8 = qvAll.orderBy(mk, col("vec_id")).limit(PqK)
    // row_number over PqK rows (post-TakeOrdered), not the corpus.
    val seeds = seed8.withColumn("code",
      (row_number().over(Window.orderBy(mk, col("vec_id"))) - 1)
        .cast("long"))
    val seedSub = seeds.select(col("code"),
      posexplode(subSlices(col("qv"))).as(Seq("m", "cv")))
    // Per-subspace argmin as the codegen'd ivf_argmin scalar over a
    // broadcast per-m codebook array (round 16 — the round-15 ivfAssign
    // shape applied at subspace grain): the former broadcast-join
    // fan-out (N·M·K materialized rows) + row_number window paid an
    // Exchange AND a sort keyed on (vec_id, m) per assign call — twice
    // per encode, recomputed per consumer subtree. Now each of the N·M
    // sub-vector rows computes its code in one whole-stage-codegen
    // projection (K·PqSub fused ops), no exchange, no sort, no fan-out.
    // Arithmetic unchanged: lexicographic (dist, code) minimum in exact
    // int64 — the DuckDB row_number twins are bit-identical.
    def assign(cb: DataFrame): DataFrame = {
      val cbArr = cb.groupBy(col("m"))
        .agg(sort_array(collect_list(struct(col("code").as("cid"),
          col("cv")))).as("marr"))
      subs.join(broadcast(cbArr), "m")
        .select(col("vec_id"), col("m"), col("sub"),
          call_function("ivf_argmin", col("sub"), col("marr")).as("code"))
        .filter(col("code").isNotNull)
    }
    val cb = assign(seedSub)
      .select(col("m"), col("code"),
        posexplode_outer(col("sub")).as(Seq("dim", "v")))
      .groupBy(col("m"), col("code"), col("dim"))
      .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
        .cast("long").as("mval"))
      .groupBy(col("m"), col("code"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mval"))))
        .as("mv"))
      .select(col("m"), col("code"),
        transform(col("mv"), st => st.getField("mval")).as("cv"))
      // M·K = 64 rows feeding the encode, every ADC/SDC distance table
      // and (in v24) the SDC self-join — persist so no consumer re-runs
      // the training aggregates.
      .persist(StorageLevel.MEMORY_AND_DISK)
    // With the round-16 argmin projection the encode is exchange-FREE —
    // which also means no shuffle materialization point remains for AQE
    // to reuse across consumer subtrees (the old window form's Exchange
    // was doubling as an implicit cache; dropping it made v11/v24
    // RECOMPUTE the encode once per report branch — measured 1.9× worse
    // before this persist). Codes are 3 ints per (vector, subspace):
    // the canonical tiny-artifact persist, same lifecycle contract as
    // qvAll above (Bench/Verify clearCache() between queries).
    val codes = assign(cb).select(col("vec_id"), col("m"), col("code"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (qvAll, subs, cb, codes)
  }

  /** Banded-LSH near-duplicate pairs (va < vb, cosine > 0.4) — the pair
    * miner behind v03 (report) and v06 (survivorship).
    *
    * Scale shape (the round-5 fix): candidates come from a self-join on
    * (band, bkey) — 4 bands x 256 keys instead of one global 16-bucket
    * space — and any bucket holding more than `tau` vectors is DROPPED
    * before the join (its key carries no discriminative signal; the same
    * guard industrial MinHash-LSH dedup applies to hot bands). Per-bucket
    * pair work is therefore <= tau^2 at ANY corpus size; the pair shuffle
    * carries only (va, vb); embeddings re-attach by equi-join on vec_id
    * afterwards (the d03 lesson — never drag the payload through the
    * pair-distinct shuffle, and never force-broadcast a corpus-sized
    * side). */
  private[graft] def neardupPairsOn(e: DataFrame, tau: Long): DataFrame = {
    val keys = withBandKeys(e).select(col("vec_id"), col("band"), col("bkey"))
    val sizes = keys.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bn"))
    val kept = keys.join(sizes.filter(col("bn") <= tau),
      Seq("band", "bkey"))
    val a = kept.select(col("vec_id").as("va"), col("band"), col("bkey"))
    val b = kept.select(col("vec_id").as("vb"), col("band").as("bandb"),
      col("bkey").as("bkeyb"))
    val cand = a.join(b, col("band") === col("bandb") &&
        col("bkey") === col("bkeyb") && col("va") < col("vb"))
      .select(col("va"), col("vb")).distinct()
    val emb = e.select(col("vec_id"), col("embedding"))
    cand
      .join(emb.select(col("vec_id").as("va"), col("embedding").as("ea")),
        "va")
      .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")),
        "vb")
      .withColumn("sim", expr("cosine_sim(ea, eb)"))
      .filter(col("sim") > 0.4)
      .select(col("va"), col("vb"), col("sim"))
  }

  /** Default bucket-population cap for the graded entries: far above any
    * band-bucket the near-uniform test corpus produces (≈N/256 per band),
    * low enough that a degenerate hot bucket (corpus-common signature)
    * is dropped instead of going quadratic. */
  private[graft] val DefaultTau = 64L

  private def neardupPairs(s: SparkSession, dir: String): DataFrame =
    neardupPairsOn(Tables.load(s, dir, "embeddings"), DefaultTau)

  private val duckCos =
    """list_dot_product(CAST(%s AS DOUBLE[]), CAST(%s AS DOUBLE[])) /
      |   sqrt(list_dot_product(CAST(%s AS DOUBLE[]), CAST(%s AS DOUBLE[])) *
      |        list_dot_product(CAST(%s AS DOUBLE[]), CAST(%s AS DOUBLE[])))"""
      .stripMargin

  /** DuckDB twin of the FULL-corpus IVF index (v18's inline
    * recomputation — the index is a materialized view, not a semantic
    * change): trains the √N/T=3 codebook over the same bounded 256·K
    * md5-sample the index build uses, assigns every vector, probes K/4
    * cells for the queries selected by `queryPred` (over alias q), and
    * exact-cosine re-ranks. The returned CTE chain (no WITH prefix)
    * ends with `reranked` (q_id, c_id, sim, rnk). Shared by v18 and
    * v25b's vector shortlist. */
  private def annIndexCtes(queryPred: String): String = {

      // DuckDB twin of the indexed serving path: recompute the √N/T=3
      // codebook (trained over the same bounded 256·K md5-sample the
      // index build uses) and cell assignment inline (the index is a
      // materialized view, not a semantic change) — the assignment via
      // the SAME two-level route the build runs since round 15 (coarse
      // 2-round Lloyd over the K centroids, route, fine argmin within
      // the routed group; see twoLevelAssign) — probe K/4 cells,
      // exact-cosine re-rank, emit each query's top 5 with similarity.
      val kSql = "(SELECT CAST(round(sqrt(COUNT(*))) AS BIGINT) FROM q)"
      val pSql = "(SELECT GREATEST(1, CAST(round(round(sqrt(COUNT(*))) / 4.0) AS BIGINT)) FROM q)"
      val sSql = "(SELECT 256 * CAST(round(sqrt(COUNT(*))) AS BIGINT) FROM q)"
      val gSql = "(SELECT GREATEST(1, CAST(round(sqrt(CAST(round(sqrt(" +
        "COUNT(*))) AS DOUBLE))) AS BIGINT)) FROM q)"
      def dist(a: String, b: String): String =
        s"list_sum(list_transform(range(64), ii -> ($a[ii+1] - $b[ii+1]) * ($a[ii+1] - $b[ii+1])))"
      def seedCte(name: String, limitSql: String,
                  src: String = "q"): String =
        s"""$name AS (
           | SELECT cid, cv FROM (
           |  SELECT vec_id AS cid, qv AS cv,
           |   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
           |     vec_id) AS srn
           |  FROM $src) t WHERE srn <= $limitSql)""".stripMargin
      def assignCte(name: String, cents: String,
                    src: String = "q"): String =
        s"""$name AS (
           | SELECT vec_id, qv, cid FROM (
           |  SELECT q.vec_id, q.qv, c.cid,
           |   row_number() OVER (PARTITION BY q.vec_id
           |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rn
           |  FROM $src q CROSS JOIN $cents c) t WHERE rn = 1)"""
          .stripMargin
      def updateCte(dimsName: String, centsName: String,
                    assigned: String): String =
        s"""$dimsName AS (
           | SELECT cid, dim,
           |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
           | FROM (SELECT cid, generate_subscripts(qv, 1) AS dim,
           |        unnest(qv) AS v FROM $assigned) t
           | GROUP BY cid, dim),
           |${dimsName}s AS (
           | SELECT cid, list(mval ORDER BY dim) AS mv,
           |  CAST(SUM(mval * mval) AS BIGINT) AS ss
           | FROM $dimsName GROUP BY cid),
           |$centsName AS (
           | SELECT cid, list_transform(mv, m -> CASE WHEN ss = 0
           |   THEN CAST(0 AS BIGINT)
           |   ELSE CAST(round(CAST(m AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) * 1000) AS BIGINT) END) AS cv
           | FROM ${dimsName}s)""".stripMargin
      
    s"""q AS (
         | SELECT vec_id,
         |  list_transform(ed, x -> CASE WHEN nrm = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(x / nrm * 1000) AS BIGINT) END) AS qv
         | FROM (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |        CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings) tq),
         |samp AS (
         | SELECT vec_id, qv FROM (
         |  SELECT vec_id, qv,
         |   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |     vec_id) AS srn
         |  FROM q) t WHERE srn <= $sSql),
         |${seedCte("seedsq", kSql, "samp")},
         |${assignCte("b1", "seedsq", "samp")},
         |${updateCte("w1", "d1", "b1")},
         |${assignCte("b2", "d1", "samp")},
         |${updateCte("w2", "d2", "b2")},
         |${assignCte("b3", "d2", "samp")},
         |${updateCte("w3", "d3", "b3")},
         |centq AS (SELECT cid AS vec_id, cv AS qv FROM d3),
         |${seedCte("gseed", gSql, "centq")},
         |${assignCte("g1", "gseed", "centq")},
         |${updateCte("gw1", "gc1", "g1")},
         |${assignCte("g2", "gc1", "centq")},
         |${updateCte("gw2", "gc2", "g2")},
         |${assignCte("fmapraw", "gc2", "centq")},
         |fmap AS (SELECT vec_id AS fcid, cid AS gid FROM fmapraw),
         |${assignCte("routedq", "gc2")},
         |af AS (
         | SELECT vec_id AS c_id, cell AS c_cell FROM (
         |  SELECT r.vec_id, c.cid AS cell,
         |   row_number() OVER (PARTITION BY r.vec_id
         |     ORDER BY ${dist("r.qv", "c.cv")}, c.cid) AS rn
         |  FROM routedq r JOIN fmap fm ON r.cid = fm.gid
         |   JOIN d3 c ON fm.fcid = c.cid) t WHERE rn = 1
         | UNION ALL
         | SELECT vec_id AS c_id, cell AS c_cell FROM (
         |  SELECT r.vec_id, c.cid AS cell,
         |   row_number() OVER (PARTITION BY r.vec_id
         |     ORDER BY ${dist("r.qv", "c.cv")}, c.cid) AS rn
         |  FROM routedq r CROSS JOIN d3 c
         |  WHERE r.cid NOT IN (SELECT gid FROM fmap)) t WHERE rn = 1),
         |probes AS (
         | SELECT q_id, p_cell FROM (
         |  SELECT q.vec_id AS q_id, c.cid AS p_cell,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS prn
         |  FROM q CROSS JOIN d3 c
         |  WHERE $queryPred) t
         | WHERE prn <= $pSql),
         |reranked AS (
         | SELECT p.q_id, a.c_id,
         |  ${cos("qe.embedding", "ce.embedding")} AS sim,
         |  row_number() OVER (PARTITION BY p.q_id ORDER BY
         |    ${cos("qe.embedding", "ce.embedding")} DESC, a.c_id) AS rnk
         | FROM probes p
         |  JOIN embeddings qe ON p.q_id = qe.vec_id
         |  JOIN af a ON p.p_cell = a.c_cell AND p.q_id <> a.c_id
         |  JOIN embeddings ce ON a.c_id = ce.vec_id)""".stripMargin
  }

  private def cos(a: String, b: String): String =
    duckCos.format(a, b, a, a, b, b)

  /** Shared DuckDB CTE chain for delta-segmented ANN serving (v19 and
    * d33's serving composite): recompute the base-slice codebook over
    * the bounded md5 sample, assign base + frozen-codebook delta cells
    * — both via the two-level route the build runs since round 15
    * (see [[twoLevelAssign]]) — with segment tags, probe, and
    * exact-cosine re-rank. Ends in
    * `reranked` (q_id, c_id, seg, sim, rnk); callers append their own
    * final SELECT (v19: top-5; d33: rnk = 1 joined per doc). The
    * three predicates are SQL over `vec_id` (probePred over alias
    * `q`), mirroring [[ensureAnnDeltaIndexWhere]]'s slices. */
  private[graft] def annServeCtes(basePred: String, deltaPred: String,
                                  probePred: String): String = {
    val kSql = "(SELECT CAST(round(sqrt(COUNT(*))) AS BIGINT) FROM qb)"
    val pSql = "(SELECT GREATEST(1, CAST(round(round(sqrt(COUNT(*))) / 4.0) AS BIGINT)) FROM qb)"
    val sSql = "(SELECT 256 * CAST(round(sqrt(COUNT(*))) AS BIGINT) FROM qb)"
    val gSql = "(SELECT GREATEST(1, CAST(round(sqrt(CAST(round(sqrt(" +
      "COUNT(*))) AS DOUBLE))) AS BIGINT)) FROM qb)"
    def dist(a: String, b: String): String =
      s"list_sum(list_transform(range(64), ii -> ($a[ii+1] - $b[ii+1]) * ($a[ii+1] - $b[ii+1])))"
    def assignCte(name: String, cents: String,
                  src: String = "qb"): String =
      s"""$name AS (
         | SELECT vec_id, qv, cid FROM (
         |  SELECT q.vec_id, q.qv, c.cid,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rn
         |  FROM $src q CROSS JOIN $cents c) t WHERE rn = 1)"""
        .stripMargin
    def updateCte(dimsName: String, centsName: String,
                  assigned: String): String =
      s"""$dimsName AS (
         | SELECT cid, dim,
         |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
         | FROM (SELECT cid, generate_subscripts(qv, 1) AS dim,
         |        unnest(qv) AS v FROM $assigned) t
         | GROUP BY cid, dim),
         |${dimsName}s AS (
         | SELECT cid, list(mval ORDER BY dim) AS mv,
         |  CAST(SUM(mval * mval) AS BIGINT) AS ss
         | FROM $dimsName GROUP BY cid),
         |$centsName AS (
         | SELECT cid, list_transform(mv, m -> CASE WHEN ss = 0
         |   THEN CAST(0 AS BIGINT)
         |   ELSE CAST(round(CAST(m AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) * 1000) AS BIGINT) END) AS cv
         | FROM ${dimsName}s)""".stripMargin
    s"""q AS (
       | SELECT vec_id,
       |  list_transform(ed, x -> CASE WHEN nrm = 0
       |    THEN CAST(0 AS BIGINT)
       |    ELSE CAST(round(x / nrm * 1000) AS BIGINT) END) AS qv
       | FROM (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
       |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |        CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings) tq),
       |qb AS (SELECT vec_id, qv FROM q WHERE $basePred),
       |qd AS (SELECT vec_id, qv FROM q WHERE $deltaPred),
       |samp AS (
       | SELECT vec_id, qv FROM (
       |  SELECT vec_id, qv,
       |   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |     vec_id) AS srn
       |  FROM qb) t WHERE srn <= $sSql),
       |seedsq AS (
       | SELECT cid, cv FROM (
       |  SELECT vec_id AS cid, qv AS cv,
       |   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |     vec_id) AS srn
       |  FROM samp) t WHERE srn <= $kSql),
       |${assignCte("b1", "seedsq", "samp")},
       |${updateCte("w1", "d1", "b1")},
       |${assignCte("b2", "d1", "samp")},
       |${updateCte("w2", "d2", "b2")},
       |${assignCte("b3", "d2", "samp")},
       |${updateCte("w3", "d3", "b3")},
       |centq AS (SELECT cid AS vec_id, cv AS qv FROM d3),
       |gseed AS (
       | SELECT cid, cv FROM (
       |  SELECT vec_id AS cid, qv AS cv,
       |   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |     vec_id) AS srn
       |  FROM centq) t WHERE srn <= $gSql),
       |${assignCte("g1", "gseed", "centq")},
       |${updateCte("gw1", "gc1", "g1")},
       |${assignCte("g2", "gc1", "centq")},
       |${updateCte("gw2", "gc2", "g2")},
       |${assignCte("fmapraw", "gc2", "centq")},
       |fmap AS (SELECT vec_id AS fcid, cid AS gid FROM fmapraw),
       |${assignCte("routb", "gc2", "qb")},
       |${assignCte("routd", "gc2", "qd")},
       |afb AS (
       | SELECT vec_id AS c_id, cell AS c_cell FROM (
       |  SELECT r.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY r.vec_id
       |     ORDER BY ${dist("r.qv", "c.cv")}, c.cid) AS rn
       |  FROM routb r JOIN fmap fm ON r.cid = fm.gid
       |   JOIN d3 c ON fm.fcid = c.cid) t WHERE rn = 1
       | UNION ALL
       | SELECT vec_id AS c_id, cell AS c_cell FROM (
       |  SELECT r.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY r.vec_id
       |     ORDER BY ${dist("r.qv", "c.cv")}, c.cid) AS rn
       |  FROM routb r CROSS JOIN d3 c
       |  WHERE r.cid NOT IN (SELECT gid FROM fmap)) t WHERE rn = 1),
       |afd AS (
       | SELECT vec_id AS c_id, cell AS c_cell FROM (
       |  SELECT r.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY r.vec_id
       |     ORDER BY ${dist("r.qv", "c.cv")}, c.cid) AS rn
       |  FROM routd r JOIN fmap fm ON r.cid = fm.gid
       |   JOIN d3 c ON fm.fcid = c.cid) t WHERE rn = 1
       | UNION ALL
       | SELECT vec_id AS c_id, cell AS c_cell FROM (
       |  SELECT r.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY r.vec_id
       |     ORDER BY ${dist("r.qv", "c.cv")}, c.cid) AS rn
       |  FROM routd r CROSS JOIN d3 c
       |  WHERE r.cid NOT IN (SELECT gid FROM fmap)) t WHERE rn = 1),
       |cells AS (
       | SELECT c_id, c_cell, 'base' AS seg FROM afb
       | UNION ALL
       | SELECT c_id, c_cell, 'delta' AS seg FROM afd),
       |probes AS (
       | SELECT q_id, p_cell FROM (
       |  SELECT q.vec_id AS q_id, c.cid AS p_cell,
       |   row_number() OVER (PARTITION BY q.vec_id
       |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS prn
       |  FROM q CROSS JOIN d3 c
       |  WHERE $probePred) t
       | WHERE prn <= $pSql),
       |reranked AS (
       | SELECT p.q_id, a.c_id, a.seg,
       |  ${cos("qe.embedding", "ce.embedding")} AS sim,
       |  row_number() OVER (PARTITION BY p.q_id ORDER BY
       |    ${cos("qe.embedding", "ce.embedding")} DESC, a.c_id) AS rnk
       | FROM probes p
       |  JOIN embeddings qe ON p.q_id = qe.vec_id
       |  JOIN cells a ON p.p_cell = a.c_cell AND p.q_id <> a.c_id
       |  JOIN embeddings ce ON a.c_id = ce.vec_id)""".stripMargin
  }

  private val duckBucket =
    (0 until 4).map { j =>
      val w = s"(((i + 1) * ${j + 7} * 2654435761) % 1000003 - 500001) / 500001.0"
      s"""CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
         |  list_transform(range(64), i -> CAST($w AS DOUBLE))) > 0
         |  THEN CAST(${1L << j} AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" + ")

  /** DuckDB twin of `hyperplane_sig(embedding, n)` — the full n-bit
    * signature as a sum of per-plane CASE terms (v21's HamBits code). */
  private def duckSigBits(n: Int): String =
    (0 until n).map { p =>
      val w = s"(((i + 1) * ${p + 7} * 2654435761) % 1000003 - 500001) / 500001.0"
      s"""CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
         |  list_transform(range(64), i -> CAST($w AS DOUBLE))) > 0
         |  THEN CAST(${1L << p} AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" + ")

  /** DuckDB twin of one band's 8-bit key (band b = planes b*8..b*8+7). */
  private def duckBandKey(b: Int): String =
    (0 until BandBits).map { i =>
      val p = b * BandBits + i
      val w = s"(((i + 1) * ${p + 7} * 2654435761) % 1000003 - 500001) / 500001.0"
      s"""CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
         |  list_transform(range(64), i -> CAST($w AS DOUBLE))) > 0
         |  THEN CAST(${1L << i} AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" + ")

  /** Shared CTE chain: banded keys -> bucket-size cap -> candidate pairs
    * verified at cosine > 0.4 (the DuckDB twin of [[neardupPairsOn]]). */
  /** Banded-pair CTE chain over an arbitrary source relation (v15 runs
    * it on a bounded slice; the graded miners on the full table). */
  private def duckBandedPairCtesOn(tbl: String): String = {
    val keyUnion = (0 until NumBands).map { b =>
      s"SELECT vec_id, CAST($b AS INT) AS band, (${duckBandKey(b)}) AS bkey FROM $tbl"
    }.mkString("\n UNION ALL\n ")
    s"""keys AS (
       | $keyUnion),
       |sizes AS (
       | SELECT band, bkey, COUNT(*) AS bn FROM keys GROUP BY band, bkey),
       |kept AS (
       | SELECT k.vec_id, k.band, k.bkey FROM keys k
       | JOIN sizes s ON k.band = s.band AND k.bkey = s.bkey
       | WHERE s.bn <= $DefaultTau),
       |cand AS (
       | SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       | FROM kept a JOIN kept b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       |neardup AS (
       | SELECT cand.va, cand.vb,
       |  ${cos("ea.embedding", "eb.embedding")} AS sim
       | FROM cand
       |  JOIN $tbl ea ON cand.va = ea.vec_id
       |  JOIN $tbl eb ON cand.vb = eb.vec_id
       | WHERE ${cos("ea.embedding", "eb.embedding")} > 0.4)""".stripMargin
  }

  private val duckBandedPairCtes = duckBandedPairCtesOn("embeddings")

  def oracle: Map[String, String] = Map(
    "v22_nms_diversify" ->
      s"""WITH p AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  c.embedding AS ce,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |short AS (
         | SELECT q_id, c_id, ce, sim, rnk FROM (
         |  SELECT q_id, c_id, ce, sim,
         |   row_number() OVER (PARTITION BY q_id
         |     ORDER BY sim DESC, c_id) AS rnk
         |  FROM p) t WHERE rnk <= 10),
         |sup AS (
         | SELECT DISTINCT a.q_id, a.c_id
         | FROM short a JOIN short h ON a.q_id = h.q_id
         |  AND h.rnk < a.rnk AND ${cos("a.ce", "h.ce")} > 0.3),
         |kept AS (
         | SELECT s.q_id, s.c_id, s.sim, s.rnk,
         |  row_number() OVER (PARTITION BY s.q_id ORDER BY s.rnk)
         |    AS drnk
         | FROM short s
         | WHERE NOT EXISTS (SELECT 1 FROM sup x
         |   WHERE x.q_id = s.q_id AND x.c_id = s.c_id))
         |SELECT q_id, CAST(drnk AS BIGINT) AS drnk, c_id, sim,
         | CAST(rnk AS BIGINT) AS orig_rnk
         |FROM kept WHERE drnk <= 5 ORDER BY q_id, drnk""".stripMargin,

    "v01_knn_brute" ->
      s"""WITH pairs AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |ranked AS (
         | SELECT q_id, c_id, sim,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
         | FROM pairs)
         |SELECT q_id, c_id, rnk, sim FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,

    "v16_filtered_knn" ->
      s"""WITH pairs AS (
         | SELECT q.vec_id AS q_id, CAST(q.label AS BIGINT) AS label,
         |  c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c
         |  ON q.label = c.label AND q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |ranked AS (
         | SELECT q_id, label, c_id, sim,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
         | FROM pairs)
         |SELECT q_id, label, c_id, rnk, sim FROM ranked WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,

    "v02_knn_lsh" ->
      s"""WITH withb AS (
         | SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings),
         |pairs AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM withb q JOIN withb c
         |  ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |ranked AS (
         | SELECT q_id, c_id, sim,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
         | FROM pairs)
         |SELECT q_id, c_id, rnk, sim FROM ranked WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,

    "v04_knn_ivf" ->
      s"""WITH cents AS (
         | SELECT vec_id AS cent_id, embedding AS cent_emb
         | FROM embeddings WHERE vec_id < 16),
         |assigned AS (
         | SELECT vec_id, embedding, cent_id FROM (
         |  SELECT e.vec_id, e.embedding, c.cent_id,
         |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |     ${cos("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS crn
         |  FROM embeddings e CROSS JOIN cents c) t WHERE crn = 1),
         |pairs AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM assigned q JOIN assigned c
         |  ON q.cent_id = c.cent_id AND q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |ranked AS (
         | SELECT q_id, c_id, sim,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
         | FROM pairs)
         |SELECT q_id, c_id, rnk, sim FROM ranked WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,

    "v05_quantize_int8" ->
      """WITH m AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
        |  list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS max_abs
        | FROM embeddings),
        |sc AS (
        | SELECT vec_id, ed, max_abs,
        |  CASE WHEN max_abs = 0 THEN 0.0 ELSE 127.0 / max_abs END AS scale
        | FROM m)
        |SELECT vec_id,
        | array_to_string(list_transform(ed, x -> CAST(round(x * scale) AS BIGINT)), ',') AS q8_csv,
        | max_abs
        |FROM sc ORDER BY vec_id""".stripMargin,

    "v03_neardup_embed" ->
      s"""WITH $duckBandedPairCtes
         |SELECT va, vb, sim FROM neardup
         |ORDER BY sim DESC, va, vb""".stripMargin,

    "v06_semdedup" ->
      s"""WITH $duckBandedPairCtes,
         |dropped AS (SELECT DISTINCT vb FROM neardup)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT vb FROM dropped)
         |ORDER BY vec_id""".stripMargin,

    "v07_ann_recall" ->
      s"""WITH withb AS (
         | SELECT vec_id, embedding, $duckBucket AS bucket,
         |  ($duckBucket) % 4 AS bucket2
         | FROM embeddings),
         |tpairs AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |truth AS (
         | SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
         |  FROM tpairs) WHERE rnk <= 5),
         |a4 AS (
         | SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cos("q.embedding", "c.embedding")} DESC, c.vec_id) AS rnk
         |  FROM withb q JOIN withb c
         |   ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 20) WHERE rnk <= 5),
         |a2 AS (
         | SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cos("q.embedding", "c.embedding")} DESC, c.vec_id) AS rnk
         |  FROM withb q JOIN withb c
         |   ON q.bucket2 = c.bucket2 AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 20) WHERE rnk <= 5),
         |h4 AS (
         | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_4bit
         | FROM truth t LEFT JOIN a4 a
         |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id),
         |h2 AS (
         | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_2bit
         | FROM truth t LEFT JOIN a2 a
         |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id)
         |SELECT h4.q_id, hits_4bit, hits_2bit,
         | CAST(hits_4bit AS DOUBLE) / 5.0 AS recall_4bit,
         | CAST(hits_2bit AS DOUBLE) / 5.0 AS recall_2bit
         |FROM h4 JOIN h2 ON h4.q_id = h2.q_id
         |ORDER BY h4.q_id""".stripMargin,

    "v08_ivf_rerank" ->
      s"""WITH cents AS (
         | SELECT vec_id AS cent_id, embedding AS cent_emb
         | FROM embeddings WHERE vec_id < 16),
         |assigned AS (
         | SELECT vec_id AS c_id, embedding AS c_emb, cent_id AS c_cell
         | FROM (
         |  SELECT e.vec_id, e.embedding, c.cent_id,
         |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |     ${cos("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS crn
         |  FROM embeddings e CROSS JOIN cents c) t WHERE crn = 1),
         |probes AS (
         | SELECT q_id, q_emb, cent_id AS p_cell FROM (
         |  SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.cent_id,
         |   row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |     ${cos("q.embedding", "c.cent_emb")} DESC, c.cent_id) AS prn
         |  FROM embeddings q CROSS JOIN cents c
         |  WHERE q.vec_id < 20) t WHERE prn <= 4),
         |reranked AS (
         | SELECT p.q_id, a.c_id,
         |  row_number() OVER (PARTITION BY p.q_id ORDER BY
         |    ${cos("p.q_emb", "a.c_emb")} DESC, a.c_id) AS rnk
         | FROM probes p JOIN assigned a
         |  ON p.p_cell = a.c_cell AND p.q_id <> a.c_id),
         |ncand AS (
         | SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_cand
         | FROM reranked GROUP BY q_id),
         |top5 AS (SELECT q_id, c_id FROM reranked WHERE rnk <= 5),
         |tpairs AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |truth AS (
         | SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
         |  FROM tpairs) WHERE rnk <= 5),
         |h AS (
         | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_ivf
         | FROM truth t LEFT JOIN top5 a
         |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id)
         |SELECT h.q_id, n_cand, hits_ivf,
         | CAST(hits_ivf AS DOUBLE) / 5.0 AS recall_ivf
         |FROM h JOIN ncand ON h.q_id = ncand.q_id
         |ORDER BY h.q_id""".stripMargin,

    "v09_ivf_trained" -> {
      // DuckDB twin of the T=2 integer spherical Lloyd training plus the
      // two-leg held-out harness, unrolled: every arithmetic step (int64
      // quantize on the normalized vector, exact L2, floor-mean +
      // integer-sphere re-projection) is order-invariant, so the trained
      // codebook is bit-identical.
      def dist(a: String, b: String): String =
        s"list_sum(list_transform(range(64), ii -> ($a[ii+1] - $b[ii+1]) * ($a[ii+1] - $b[ii+1])))"
      def assignCte(name: String, cents: String): String =
        s"""$name AS (
           | SELECT vec_id, qv, cid FROM (
           |  SELECT q.vec_id, q.qv, c.cid,
           |   row_number() OVER (PARTITION BY q.vec_id
           |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rn
           |  FROM q CROSS JOIN $cents c) t WHERE rn = 1)"""
          .stripMargin
      def legCtes(sfx: String, cents: String): String =
        s"""af_$sfx AS (
           | SELECT vec_id AS c_id, cid AS c_cell FROM (
           |  SELECT q.vec_id, c.cid,
           |   row_number() OVER (PARTITION BY q.vec_id
           |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rn
           |  FROM q CROSS JOIN $cents c) t WHERE rn = 1),
           |probes_$sfx AS (
           | SELECT q_id, p_cell FROM (
           |  SELECT q.vec_id AS q_id, c.cid AS p_cell,
           |   row_number() OVER (PARTITION BY q.vec_id
           |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS prn
           |  FROM q CROSS JOIN $cents c
           |  WHERE q.vec_id >= 100 AND q.vec_id < 120) t WHERE prn <= 4),
           |reranked_$sfx AS (
           | SELECT p.q_id, a.c_id,
           |  row_number() OVER (PARTITION BY p.q_id ORDER BY
           |    ${cos("qe.embedding", "ce.embedding")} DESC, a.c_id) AS rnk
           | FROM probes_$sfx p
           |  JOIN embeddings qe ON p.q_id = qe.vec_id
           |  JOIN af_$sfx a ON p.p_cell = a.c_cell AND p.q_id <> a.c_id
           |  JOIN embeddings ce ON a.c_id = ce.vec_id),
           |ncand_$sfx AS (
           | SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_cand_$sfx
           | FROM reranked_$sfx GROUP BY q_id),
           |top5_$sfx AS (
           | SELECT q_id, c_id FROM reranked_$sfx WHERE rnk <= 5),
           |h_$sfx AS (
           | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_$sfx
           | FROM truth t LEFT JOIN top5_$sfx a
           |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id)"""
          .stripMargin
      def updateCte(dimsName: String, centsName: String,
                    assigned: String): String =
        s"""$dimsName AS (
           | SELECT cid, dim,
           |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
           | FROM (SELECT cid, generate_subscripts(qv, 1) AS dim,
           |        unnest(qv) AS v FROM $assigned) t
           | GROUP BY cid, dim),
           |${dimsName}s AS (
           | SELECT cid, list(mval ORDER BY dim) AS mv,
           |  CAST(SUM(mval * mval) AS BIGINT) AS ss
           | FROM $dimsName GROUP BY cid),
           |$centsName AS (
           | SELECT cid, list_transform(mv, m -> CASE WHEN ss = 0
           |   THEN CAST(0 AS BIGINT)
           |   ELSE CAST(round(CAST(m AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) * 1000) AS BIGINT) END) AS cv
           | FROM ${dimsName}s)""".stripMargin
      s"""WITH q AS (
         | SELECT vec_id,
         |  list_transform(ed, x -> CASE WHEN nrm = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(x / nrm * 1000) AS BIGINT) END) AS qv
         | FROM (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |        CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings) tq),
         |seed AS (
         | SELECT vec_id AS cid, qv AS cv FROM q
         | ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |${assignCte("a1", "seed")},
         |${updateCte("u1", "c1", "a1")},
         |${assignCte("a2", "c1")},
         |${updateCte("u2", "c2", "a2")},
         |fixedc AS (
         | SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 16),
         |tpairs AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id >= 100 AND q.vec_id < 120),
         |truth AS (
         | SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
         |  FROM tpairs) WHERE rnk <= 5),
         |${legCtes("fx", "fixedc")},
         |${legCtes("tr", "c2")}
         |SELECT h_fx.q_id,
         | n_cand_fx, hits_fx, CAST(hits_fx AS DOUBLE) / 5.0 AS recall_fx,
         | n_cand_tr, hits_tr, CAST(hits_tr AS DOUBLE) / 5.0 AS recall_tr
         |FROM h_fx
         | JOIN ncand_fx ON h_fx.q_id = ncand_fx.q_id
         | JOIN h_tr ON h_fx.q_id = h_tr.q_id
         | JOIN ncand_tr ON h_fx.q_id = ncand_tr.q_id
         |ORDER BY h_fx.q_id""".stripMargin
    },

    "v17_ivf_sqrtn" -> {
      // DuckDB twin of the K = round(√N) harness: v09's CTE builders
      // with the codebook size and probe count as scalar subqueries
      // over q (so the SQL needs no engine-side row count), the √N leg
      // trained T=3 over the SAME bounded 256·K md5-sample the engine
      // trains on (samp CTE — identical total order, identical
      // row_number cutoff), so both codebooks stay bit-identical even
      // where the sample is a strict subset of the corpus. Every
      // arithmetic step is the same order-invariant integer form.
      val kSql = "(SELECT CAST(round(sqrt(COUNT(*))) AS BIGINT) FROM q)"
      val pSql = "(SELECT GREATEST(1, CAST(round(round(sqrt(COUNT(*))) / 4.0) AS BIGINT)) FROM q)"
      val sSql = "(SELECT 256 * CAST(round(sqrt(COUNT(*))) AS BIGINT) FROM q)"
      def dist(a: String, b: String): String =
        s"list_sum(list_transform(range(64), ii -> ($a[ii+1] - $b[ii+1]) * ($a[ii+1] - $b[ii+1])))"
      def seedCte(name: String, limitSql: String,
                  src: String = "q"): String =
        s"""$name AS (
           | SELECT cid, cv FROM (
           |  SELECT vec_id AS cid, qv AS cv,
           |   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
           |     vec_id) AS srn
           |  FROM $src) t WHERE srn <= $limitSql)""".stripMargin
      def assignCte(name: String, cents: String,
                    src: String = "q"): String =
        s"""$name AS (
           | SELECT vec_id, qv, cid FROM (
           |  SELECT q.vec_id, q.qv, c.cid,
           |   row_number() OVER (PARTITION BY q.vec_id
           |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rn
           |  FROM $src q CROSS JOIN $cents c) t WHERE rn = 1)"""
          .stripMargin
      def updateCte(dimsName: String, centsName: String,
                    assigned: String): String =
        s"""$dimsName AS (
           | SELECT cid, dim,
           |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
           | FROM (SELECT cid, generate_subscripts(qv, 1) AS dim,
           |        unnest(qv) AS v FROM $assigned) t
           | GROUP BY cid, dim),
           |${dimsName}s AS (
           | SELECT cid, list(mval ORDER BY dim) AS mv,
           |  CAST(SUM(mval * mval) AS BIGINT) AS ss
           | FROM $dimsName GROUP BY cid),
           |$centsName AS (
           | SELECT cid, list_transform(mv, m -> CASE WHEN ss = 0
           |   THEN CAST(0 AS BIGINT)
           |   ELSE CAST(round(CAST(m AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) * 1000) AS BIGINT) END) AS cv
           | FROM ${dimsName}s)""".stripMargin
      def legCtes(sfx: String, cents: String, probeSql: String): String =
        s"""af_$sfx AS (
           | SELECT vec_id AS c_id, cid AS c_cell FROM (
           |  SELECT q.vec_id, c.cid,
           |   row_number() OVER (PARTITION BY q.vec_id
           |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rn
           |  FROM q CROSS JOIN $cents c) t WHERE rn = 1),
           |probes_$sfx AS (
           | SELECT q_id, p_cell FROM (
           |  SELECT q.vec_id AS q_id, c.cid AS p_cell,
           |   row_number() OVER (PARTITION BY q.vec_id
           |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS prn
           |  FROM q CROSS JOIN $cents c
           |  WHERE q.vec_id >= 100 AND q.vec_id < 120) t
           | WHERE prn <= $probeSql),
           |reranked_$sfx AS (
           | SELECT p.q_id, a.c_id,
           |  row_number() OVER (PARTITION BY p.q_id ORDER BY
           |    ${cos("qe.embedding", "ce.embedding")} DESC, a.c_id) AS rnk
           | FROM probes_$sfx p
           |  JOIN embeddings qe ON p.q_id = qe.vec_id
           |  JOIN af_$sfx a ON p.p_cell = a.c_cell AND p.q_id <> a.c_id
           |  JOIN embeddings ce ON a.c_id = ce.vec_id),
           |ncand_$sfx AS (
           | SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_cand_$sfx
           | FROM reranked_$sfx GROUP BY q_id),
           |top5_$sfx AS (
           | SELECT q_id, c_id FROM reranked_$sfx WHERE rnk <= 5),
           |h_$sfx AS (
           | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_$sfx
           | FROM truth t LEFT JOIN top5_$sfx a
           |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id)"""
          .stripMargin
      s"""WITH q AS (
         | SELECT vec_id,
         |  list_transform(ed, x -> CASE WHEN nrm = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(x / nrm * 1000) AS BIGINT) END) AS qv
         | FROM (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |        CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings) tq),
         |${seedCte("seed16", "16")},
         |${assignCte("a1", "seed16")},
         |${updateCte("u1", "c1", "a1")},
         |${assignCte("a2", "c1")},
         |${updateCte("u2", "c2", "a2")},
         |samp AS (
         | SELECT vec_id, qv FROM (
         |  SELECT vec_id, qv,
         |   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |     vec_id) AS srn
         |  FROM q) t WHERE srn <= $sSql),
         |${seedCte("seedsq", kSql, "samp")},
         |${assignCte("b1", "seedsq", "samp")},
         |${updateCte("w1", "d1", "b1")},
         |${assignCte("b2", "d1", "samp")},
         |${updateCte("w2", "d2", "b2")},
         |${assignCte("b3", "d2", "samp")},
         |${updateCte("w3", "d3", "b3")},
         |tpairs AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id >= 100 AND q.vec_id < 120),
         |truth AS (
         | SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
         |  FROM tpairs) WHERE rnk <= 5),
         |${legCtes("16", "c2", "4")},
         |${legCtes("sq", "d3", pSql)}
         |SELECT h_16.q_id,
         | n_cand_16, hits_16, CAST(hits_16 AS DOUBLE) / 5.0 AS recall_16,
         | n_cand_sq, hits_sq, CAST(hits_sq AS DOUBLE) / 5.0 AS recall_sq
         |FROM h_16
         | JOIN ncand_16 ON h_16.q_id = ncand_16.q_id
         | JOIN h_sq ON h_16.q_id = h_sq.q_id
         | JOIN ncand_sq ON h_16.q_id = ncand_sq.q_id
         |ORDER BY h_16.q_id""".stripMargin
    },

    // v29: the v17 √N-codebook CTEs, a tiny 2-round coarse Lloyd over
    // the K centroids themselves, two-level routing (coarse row_number
    // argmin, then fine argmin restricted to the routed group), flat
    // argmin on the 1/97 sample only — all the same integer arithmetic.
    "v29_two_level_assign" -> {
      val kSql = "(SELECT CAST(round(sqrt(COUNT(*))) AS BIGINT) FROM q)"
      val sSql = "(SELECT 256 * CAST(round(sqrt(COUNT(*))) AS BIGINT) FROM q)"
      val gSql = "(SELECT GREATEST(1, CAST(round(sqrt(CAST(round(sqrt(" +
        "COUNT(*))) AS DOUBLE))) AS BIGINT)) FROM q)"
      def dist(a: String, b: String): String =
        s"list_sum(list_transform(range(64), ii -> ($a[ii+1] - $b[ii+1]) * ($a[ii+1] - $b[ii+1])))"
      def seedCte(name: String, limitSql: String, src: String): String =
        s"""$name AS (
           | SELECT cid, cv FROM (
           |  SELECT vec_id AS cid, qv AS cv,
           |   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
           |     vec_id) AS srn
           |  FROM $src) t WHERE srn <= $limitSql)""".stripMargin
      def assignCte(name: String, cents: String, src: String): String =
        s"""$name AS (
           | SELECT vec_id, qv, cid FROM (
           |  SELECT q.vec_id, q.qv, c.cid,
           |   row_number() OVER (PARTITION BY q.vec_id
           |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rn
           |  FROM $src q CROSS JOIN $cents c) t WHERE rn = 1)"""
          .stripMargin
      def updateCte(dimsName: String, centsName: String,
                    assigned: String): String =
        s"""$dimsName AS (
           | SELECT cid, dim,
           |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
           | FROM (SELECT cid, generate_subscripts(qv, 1) AS dim,
           |        unnest(qv) AS v FROM $assigned) t
           | GROUP BY cid, dim),
           |${dimsName}s AS (
           | SELECT cid, list(mval ORDER BY dim) AS mv,
           |  CAST(SUM(mval * mval) AS BIGINT) AS ss
           | FROM $dimsName GROUP BY cid),
           |$centsName AS (
           | SELECT cid, list_transform(mv, m -> CASE WHEN ss = 0
           |   THEN CAST(0 AS BIGINT)
           |   ELSE CAST(round(CAST(m AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) * 1000) AS BIGINT) END) AS cv
           | FROM ${dimsName}s)""".stripMargin
      s"""WITH q AS (
         | SELECT vec_id,
         |  list_transform(ed, x -> CASE WHEN nrm = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(x / nrm * 1000) AS BIGINT) END) AS qv
         | FROM (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |        CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings) tq),
         |samp AS (
         | SELECT vec_id, qv FROM (
         |  SELECT vec_id, qv,
         |   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |     vec_id) AS srn
         |  FROM q) t WHERE srn <= $sSql),
         |${seedCte("seedsq", kSql, "samp")},
         |${assignCte("b1", "seedsq", "samp")},
         |${updateCte("w1", "d1", "b1")},
         |${assignCte("b2", "d1", "samp")},
         |${updateCte("w2", "d2", "b2")},
         |${assignCte("b3", "d2", "samp")},
         |${updateCte("w3", "d3", "b3")},
         |centq AS (SELECT cid AS vec_id, cv AS qv FROM d3),
         |${seedCte("gseed", gSql, "centq")},
         |${assignCte("g1", "gseed", "centq")},
         |${updateCte("gw1", "gc1", "g1")},
         |${assignCte("g2", "gc1", "centq")},
         |${updateCte("gw2", "gc2", "g2")},
         |${assignCte("fmapraw", "gc2", "centq")},
         |fmap AS (SELECT vec_id AS fcid, cid AS gid FROM fmapraw),
         |${assignCte("routed", "gc2", "q")},
         |two AS (
         | SELECT vec_id, gid, cell FROM (
         |  SELECT r.vec_id, r.cid AS gid, c.cid AS cell,
         |   row_number() OVER (PARTITION BY r.vec_id
         |     ORDER BY ${dist("r.qv", "c.cv")}, c.cid) AS rn
         |  FROM routed r JOIN fmap fm ON r.cid = fm.gid
         |   JOIN d3 c ON fm.fcid = c.cid) t WHERE rn = 1
         | UNION ALL
         | SELECT vec_id, gid, cell FROM (
         |  SELECT r.vec_id, r.cid AS gid, c.cid AS cell,
         |   row_number() OVER (PARTITION BY r.vec_id
         |     ORDER BY ${dist("r.qv", "c.cv")}, c.cid) AS rn
         |  FROM routed r CROSS JOIN d3 c
         |  WHERE r.cid NOT IN (SELECT gid FROM fmap)) t WHERE rn = 1),
         |sampv AS (SELECT vec_id, qv FROM q WHERE vec_id % 97 = 0),
         |${assignCte("flat", "d3", "sampv")}
         |SELECT two.gid,
         | CAST(COUNT(*) AS BIGINT) AS n_vecs,
         | CAST(COUNT(DISTINCT two.cell) AS BIGINT) AS n_fine_used,
         | CAST(SUM(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_sample,
         | CAST(SUM(CASE WHEN two.cell = f.cid THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_agree
         |FROM two LEFT JOIN flat f ON two.vec_id = f.vec_id
         |GROUP BY two.gid ORDER BY two.gid""".stripMargin
    },

    "v19_delta_ann" -> {
      // DuckDB twin of the delta-append serving path: identical to
      // v18's inline recomputation except the codebook/sample/sizing
      // derive from the BASE slice (vec_id % 7 <> 0) and the cell set
      // is the union of the base assignment and the frozen-codebook
      // delta assignment, each tagged with its segment. The CTE chain
      // is the shared [[annServeCtes]] builder (d33's serving
      // composite reuses it with d23's ingest-day slices).
      s"""WITH ${annServeCtes("vec_id % 7 <> 0", "vec_id % 7 = 0",
          "q.vec_id >= 100 AND q.vec_id < 120")}
         |SELECT q_id, c_id, CAST(rnk AS BIGINT) AS rnk, sim, seg
         |FROM reranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin
    },

    "v19b_ann_compaction" -> {
      // Compaction is a view change, not a semantic one: the compacted
      // probe must return v19's rows exactly, minus the provenance the
      // fold erases — so the twin is v19's CTE chain without seg.
      s"""WITH ${annServeCtes("vec_id % 7 <> 0", "vec_id % 7 = 0",
          "q.vec_id >= 100 AND q.vec_id < 120")}
         |SELECT q_id, c_id, CAST(rnk AS BIGINT) AS rnk, sim
         |FROM reranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin
    },

    "v23_delta_recall" -> {
      // v19's serving CTEs (the approximate answer) joined against an
      // inline v01-style brute-force truth over the same query slice.
      s"""WITH ${annServeCtes("vec_id % 7 <> 0", "vec_id % 7 = 0",
          "q.vec_id >= 100 AND q.vec_id < 120")},
         |approx AS (SELECT q_id, c_id FROM reranked WHERE rnk <= 5),
         |tp AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id >= 100 AND q.vec_id < 120),
         |tr AS (
         | SELECT q_id, c_id,
         |  CASE WHEN c_id % 7 = 0 THEN 1 ELSE 0 END AS is_delta,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
         | FROM tp),
         |truth AS (SELECT q_id, c_id, is_delta FROM tr WHERE rnk <= 5)
         |SELECT t.q_id,
         | CAST(COUNT(a.c_id) AS BIGINT) AS hits,
         | CAST(SUM(t.is_delta) AS BIGINT) AS n_truth_delta,
         | CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN t.is_delta
         |   ELSE 0 END) AS BIGINT) AS hits_delta,
         | CAST(COUNT(a.c_id) AS DOUBLE) / 5.0 AS recall
         |FROM truth t LEFT JOIN approx a
         | ON t.q_id = a.q_id AND t.c_id = a.c_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
    },

    "v30_retrain_gate" -> {
      // DuckDB twin of the retrain gate: v23's serving+truth chain and
      // v28's int8 chain recomputed inline, suite-level integer sums,
      // and the IDENTICAL pinned-threshold cross-multiplications —
      // both engines derive the decision from exact integer
      // comparisons, so the verdict string is hash-stable.
      s"""WITH ${annServeCtes("vec_id % 7 <> 0", "vec_id % 7 = 0",
          "q.vec_id >= 100 AND q.vec_id < 120")},
         |approx AS (SELECT q_id, c_id FROM reranked WHERE rnk <= 5),
         |tp AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id >= 100 AND q.vec_id < 120),
         |tr AS (
         | SELECT q_id, c_id,
         |  CASE WHEN c_id % 7 = 0 THEN 1 ELSE 0 END AS is_delta,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
         | FROM tp),
         |truth AS (SELECT q_id, c_id, is_delta FROM tr WHERE rnk <= 5),
         |d_audit AS (
         | SELECT t.q_id,
         |  CAST(COUNT(a.c_id) AS BIGINT) AS hits,
         |  CAST(SUM(t.is_delta) AS BIGINT) AS n_truth_delta,
         |  CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN t.is_delta
         |    ELSE 0 END) AS BIGINT) AS hits_delta
         | FROM truth t LEFT JOIN approx a
         |  ON t.q_id = a.q_id AND t.c_id = a.c_id
         | GROUP BY t.q_id),
         |pf AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |tf AS (
         | SELECT q_id, c_id,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id) AS BIGINT) AS r_f
         | FROM pf QUALIFY r_f <= 5),
         |q8 AS (
         | SELECT vec_id, list_transform(ed, x ->
         |   CAST(round(x * (CASE WHEN mab = 0 THEN 0.0
         |     ELSE 127.0 / mab END)) AS BIGINT)) AS q8
         | FROM (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
         |   list_max(list_transform(CAST(embedding AS DOUBLE[]),
         |     x -> abs(x))) AS mab
         |  FROM embeddings WHERE embedding IS NOT NULL) t),
         |pq AS (
         | SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |  CAST(list_sum(list_transform(range(64),
         |    i -> a.q8[i+1] * b.q8[i+1])) AS BIGINT) AS dot
         | FROM q8 a JOIN q8 b ON a.vec_id <> b.vec_id
         | WHERE a.vec_id < 20),
         |tq AS (
         | SELECT q_id, c_id,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY dot DESC, c_id) AS BIGINT) AS r_q
         | FROM pq QUALIFY r_q <= 5),
         |f AS (
         | SELECT COALESCE(tf.q_id, tq.q_id) AS q_id,
         |  COALESCE(tf.c_id, tq.c_id) AS c_id, tf.r_f, tq.r_q
         | FROM tf FULL OUTER JOIN tq
         |  ON tf.q_id = tq.q_id AND tf.c_id = tq.c_id),
         |i_audit AS (
         | SELECT q_id,
         |  CAST(SUM(CASE WHEN r_f IS NOT NULL AND r_q IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
         |  CAST(CASE WHEN MAX(CASE WHEN r_f = 1 THEN c_id END) =
         |    MAX(CASE WHEN r_q = 1 THEN c_id END)
         |    THEN 1 ELSE 0 END AS BIGINT) AS top1_same
         | FROM f GROUP BY q_id),
         |dagg AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n_q_delta,
         |  CAST(SUM(hits) AS BIGINT) AS sum_hits,
         |  CAST(SUM(n_truth_delta) AS BIGINT) AS sum_truth_delta,
         |  CAST(SUM(hits_delta) AS BIGINT) AS sum_hits_delta
         | FROM d_audit),
         |iagg AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n_q_int8,
         |  CAST(SUM(n_overlap) AS BIGINT) AS sum_overlap,
         |  CAST(SUM(top1_same) AS BIGINT) AS sum_top1
         | FROM i_audit)
         |SELECT *, CASE WHEN recall_ok + delta_ok + int8_ok = 3
         |  THEN 'keep' ELSE 'retrain' END AS decision
         |FROM (
         | SELECT n_q_delta, sum_hits, sum_truth_delta, sum_hits_delta,
         |  n_q_int8, sum_overlap, sum_top1,
         |  CAST(CASE WHEN sum_hits * 100 >=
         |    $RetrainRecallMinPct * 5 * n_q_delta
         |    THEN 1 ELSE 0 END AS BIGINT) AS recall_ok,
         |  CAST(CASE WHEN sum_truth_delta = 0 OR sum_hits_delta * 100 >=
         |    $RetrainDeltaMinPct * sum_truth_delta
         |    THEN 1 ELSE 0 END AS BIGINT) AS delta_ok,
         |  CAST(CASE WHEN sum_overlap * 100 >=
         |    $RetrainInt8MinPct * 5 * n_q_int8
         |    AND sum_top1 * 100 >= $RetrainTop1MinPct * n_q_int8
         |    THEN 1 ELSE 0 END AS BIGINT) AS int8_ok
         | FROM dagg CROSS JOIN iagg) z""".stripMargin
    },

    "v18_indexed_ann" ->
      // DuckDB twin of the indexed serving path (CTE chain shared with
      // v25b's vector shortlist via [[annIndexCtes]]): probe K/4
      // cells, exact-cosine re-rank, emit each query's top 5.
      s"""WITH ${annIndexCtes("q.vec_id >= 100 AND q.vec_id < 120")}
         |SELECT q_id, c_id, CAST(rnk AS BIGINT) AS rnk, sim
         |FROM reranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,

    "v10_pq_codes" -> {
      val codeCols = (0 until PqM).map(m =>
        s"MAX(CASE WHEN m = $m THEN code END) AS code$m")
        .mkString(",\n ")
      s"""WITH $pqCtes
         |SELECT vec_id,
         | $codeCols
         |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },

    "v11_pq_adc" -> s"""WITH $pqCtes,
      |qsubs AS (
      | SELECT vec_id AS q_id, m, sub FROM subs
      | WHERE vec_id >= 100 AND vec_id < 120),
      |dtab AS (
      | SELECT q.q_id, q.m, c.code,
      |  CAST(${pqDist("q.sub", "c.cv")} AS BIGINT) AS d
      | FROM qsubs q JOIN cb c ON q.m = c.m),
      |adc AS (
      | SELECT d.q_id, k.vec_id, CAST(SUM(d.d) AS BIGINT) AS adc_dist
      | FROM codes k JOIN dtab d ON k.m = d.m AND k.code = d.code
      | WHERE d.q_id <> k.vec_id GROUP BY d.q_id, k.vec_id),
      |short AS (
      | SELECT q_id, vec_id, adc_dist, rn FROM (
      |  SELECT q_id, vec_id, adc_dist,
      |   row_number() OVER (PARTITION BY q_id
      |     ORDER BY adc_dist, vec_id) AS rn
      |  FROM adc) t WHERE rn <= $PqShortlist),
      |top5 AS (SELECT q_id, vec_id, adc_dist FROM short WHERE rn <= 5),
      |tpairs AS (
      | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |  ${cos("q.embedding", "c.embedding")} AS sim
      | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      | WHERE q.vec_id >= 100 AND q.vec_id < 120),
      |truth AS (
      | SELECT q_id, c_id FROM (
      |  SELECT q_id, c_id,
      |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
      |  FROM tpairs) t WHERE rnk <= 5),
      |rr5 AS (
      | SELECT q_id, c_id FROM (
      |  SELECT s.q_id, s.vec_id AS c_id,
      |   row_number() OVER (PARTITION BY s.q_id ORDER BY
      |     ${cos("qe.embedding", "ce.embedding")} DESC, s.vec_id) AS rrk
      |  FROM short s
      |   JOIN embeddings qe ON s.q_id = qe.vec_id
      |   JOIN embeddings ce ON s.vec_id = ce.vec_id) t WHERE rrk <= 5),
      |h AS (
      | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_adc
      | FROM truth t LEFT JOIN
      |  (SELECT q_id, vec_id AS c_id FROM top5) a
      |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id),
      |hr AS (
      | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_rr
      | FROM truth t LEFT JOIN rr5 a
      |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id),
      |asum AS (
      | SELECT q_id, CAST(SUM(adc_dist) AS BIGINT) AS adc_top5
      | FROM top5 GROUP BY q_id)
      |SELECT h.q_id, hits_adc,
      | CAST(hits_adc AS DOUBLE) / 5.0 AS recall_adc,
      | hits_rr, CAST(hits_rr AS DOUBLE) / 5.0 AS recall_rr, adc_top5
      |FROM h JOIN hr ON h.q_id = hr.q_id
      | JOIN asum ON h.q_id = asum.q_id ORDER BY h.q_id""".stripMargin,

    "v24_pq_sdc" -> s"""WITH $pqCtes,
      |sdctab AS (
      | SELECT a.m, a.code AS code_a, b.code AS code_b,
      |  CAST(${pqDist("a.cv", "b.cv")} AS BIGINT) AS d
      | FROM cb a JOIN cb b ON a.m = b.m),
      |qcodes AS (
      | SELECT vec_id AS q_id, m, code AS code_a FROM codes
      | WHERE vec_id >= 100 AND vec_id < 120),
      |qtab AS (
      | SELECT q.q_id, q.m, t.code_b, t.d
      | FROM qcodes q JOIN sdctab t ON q.m = t.m AND q.code_a = t.code_a),
      |sdc AS (
      | SELECT t.q_id, k.vec_id, CAST(SUM(t.d) AS BIGINT) AS sdc_dist
      | FROM codes k JOIN qtab t ON k.m = t.m AND k.code = t.code_b
      | WHERE t.q_id <> k.vec_id GROUP BY t.q_id, k.vec_id),
      |top5s AS (
      | SELECT q_id, vec_id, sdc_dist FROM (
      |  SELECT q_id, vec_id, sdc_dist,
      |   row_number() OVER (PARTITION BY q_id
      |     ORDER BY sdc_dist, vec_id) AS rn
      |  FROM sdc) t WHERE rn <= 5),
      |qsubs AS (
      | SELECT vec_id AS q_id, m, sub FROM subs
      | WHERE vec_id >= 100 AND vec_id < 120),
      |dtab AS (
      | SELECT q.q_id, q.m, c.code,
      |  CAST(${pqDist("q.sub", "c.cv")} AS BIGINT) AS d
      | FROM qsubs q JOIN cb c ON q.m = c.m),
      |adc AS (
      | SELECT d.q_id, k.vec_id, CAST(SUM(d.d) AS BIGINT) AS adc_dist
      | FROM codes k JOIN dtab d ON k.m = d.m AND k.code = d.code
      | WHERE d.q_id <> k.vec_id GROUP BY d.q_id, k.vec_id),
      |top5a AS (
      | SELECT q_id, vec_id FROM (
      |  SELECT q_id, vec_id,
      |   row_number() OVER (PARTITION BY q_id
      |     ORDER BY adc_dist, vec_id) AS rn
      |  FROM adc) t WHERE rn <= 5),
      |tpairs AS (
      | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |  ${cos("q.embedding", "c.embedding")} AS sim
      | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      | WHERE q.vec_id >= 100 AND q.vec_id < 120),
      |truth AS (
      | SELECT q_id, c_id FROM (
      |  SELECT q_id, c_id,
      |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
      |  FROM tpairs) t WHERE rnk <= 5),
      |hs AS (
      | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_sdc
      | FROM truth t LEFT JOIN
      |  (SELECT q_id, vec_id AS c_id FROM top5s) a
      |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id),
      |ha AS (
      | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_adc
      | FROM truth t LEFT JOIN
      |  (SELECT q_id, vec_id AS c_id FROM top5a) a
      |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id),
      |ssum AS (
      | SELECT q_id, CAST(SUM(sdc_dist) AS BIGINT) AS sdc_top5
      | FROM top5s GROUP BY q_id)
      |SELECT hs.q_id, hits_sdc,
      | CAST(hits_sdc AS DOUBLE) / 5.0 AS recall_sdc,
      | hits_adc, CAST(hits_adc AS DOUBLE) / 5.0 AS recall_adc, sdc_top5
      |FROM hs JOIN ha ON hs.q_id = ha.q_id
      | JOIN ssum ON hs.q_id = ssum.q_id ORDER BY hs.q_id""".stripMargin,

    "v20_ivfpq_adc" -> {
      // DuckDB twin of IVF-PQ: v09's integer coarse training (T=1) +
      // pqCtes' residual-space codebook + the cell-scoped ADC scan.
      def dist64(a: String, b: String): String =
        s"list_sum(list_transform(range(64), ii -> ($a[ii+1] - $b[ii+1]) * ($a[ii+1] - $b[ii+1])))"
      s"""WITH q AS (
         | SELECT vec_id,
         |  list_transform(ed, x -> CASE WHEN nrm = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(x / nrm * 1000) AS BIGINT) END) AS qv
         | FROM (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |        CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings) tq),
         |seed AS (
         | SELECT vec_id AS cid, qv AS cv FROM q
         | ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |a1 AS (
         | SELECT vec_id, qv, cid FROM (
         |  SELECT q.vec_id, q.qv, c.cid,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dist64("q.qv", "c.cv")}, c.cid) AS rn
         |  FROM q CROSS JOIN seed c) t WHERE rn = 1),
         |u1 AS (
         | SELECT cid, dim,
         |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
         | FROM (SELECT cid, generate_subscripts(qv, 1) AS dim,
         |        unnest(qv) AS v FROM a1) t
         | GROUP BY cid, dim),
         |u1s AS (
         | SELECT cid, list(mval ORDER BY dim) AS mv,
         |  CAST(SUM(mval * mval) AS BIGINT) AS ss
         | FROM u1 GROUP BY cid),
         |c1 AS (
         | SELECT cid, list_transform(mv, m -> CASE WHEN ss = 0
         |   THEN CAST(0 AS BIGINT)
         |   ELSE CAST(round(CAST(m AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) * 1000) AS BIGINT) END) AS cv
         | FROM u1s),
         |af AS (
         | SELECT vec_id, qv, cid FROM (
         |  SELECT q.vec_id, q.qv, c.cid,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dist64("q.qv", "c.cv")}, c.cid) AS rn
         |  FROM q CROSS JOIN c1 c) t WHERE rn = 1),
         |resid AS (
         | SELECT a.vec_id, a.cid AS cell,
         |  list_transform(range(64), ii -> a.qv[ii+1] - c.cv[ii+1]) AS rv
         | FROM af a JOIN c1 c ON a.cid = c.cid),
         |ms AS (SELECT unnest(range($PqM)) AS m),
         |rsubs AS (
         | SELECT vec_id, cell, m,
         |  list_slice(rv, m * $PqSub + 1, m * $PqSub + $PqSub) AS sub
         | FROM resid CROSS JOIN ms),
         |pseed8 AS (
         | SELECT vec_id, rv, md5(CAST(vec_id AS VARCHAR)) AS mk FROM resid
         | ORDER BY mk, vec_id LIMIT $PqK),
         |pseeds AS (
         | SELECT vec_id, rv,
         |  CAST(row_number() OVER (ORDER BY mk, vec_id) - 1 AS BIGINT) AS code
         | FROM pseed8),
         |seedsub AS (
         | SELECT code, m,
         |  list_slice(rv, m * $PqSub + 1, m * $PqSub + $PqSub) AS cv
         | FROM pseeds CROSS JOIN ms),
         |pa1 AS (
         | SELECT vec_id, cell, m, sub, code FROM (
         |  SELECT s.vec_id, s.cell, s.m, s.sub, c.code,
         |   row_number() OVER (PARTITION BY s.vec_id, s.m
         |     ORDER BY ${pqDist("s.sub", "c.cv")}, c.code) AS rn
         |  FROM rsubs s JOIN seedsub c ON s.m = c.m) t WHERE rn = 1),
         |pu1 AS (
         | SELECT m, code, dim,
         |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
         | FROM (SELECT m, code, generate_subscripts(sub, 1) AS dim,
         |        unnest(sub) AS v FROM pa1) t
         | GROUP BY m, code, dim),
         |rcb AS (SELECT m, code, list(mval ORDER BY dim) AS cv
         |        FROM pu1 GROUP BY m, code),
         |codes AS (
         | SELECT vec_id, cell, m, code FROM (
         |  SELECT s.vec_id, s.cell, s.m, c.code,
         |   row_number() OVER (PARTITION BY s.vec_id, s.m
         |     ORDER BY ${pqDist("s.sub", "c.cv")}, c.code) AS rn
         |  FROM rsubs s JOIN rcb c ON s.m = c.m) t WHERE rn = 1),
         |probes AS (
         | SELECT q_id, qv, p_cell, cv FROM (
         |  SELECT q.vec_id AS q_id, q.qv, c.cid AS p_cell, c.cv,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dist64("q.qv", "c.cv")}, c.cid) AS prn
         |  FROM q CROSS JOIN c1 c
         |  WHERE q.vec_id >= 100 AND q.vec_id < 120) t WHERE prn <= 4),
         |qres AS (
         | SELECT q_id, p_cell,
         |  list_transform(range(64), ii -> qv[ii+1] - cv[ii+1]) AS qr
         | FROM probes),
         |qrsubs AS (
         | SELECT q_id, p_cell, m,
         |  list_slice(qr, m * $PqSub + 1, m * $PqSub + $PqSub) AS qsub
         | FROM qres CROSS JOIN ms),
         |dtab AS (
         | SELECT s.q_id, s.p_cell, s.m, c.code,
         |  CAST(${pqDist("s.qsub", "c.cv")} AS BIGINT) AS d
         | FROM qrsubs s JOIN rcb c ON s.m = c.m),
         |adc AS (
         | SELECT d.q_id, k.vec_id, CAST(SUM(d.d) AS BIGINT) AS adc_dist
         | FROM codes k JOIN dtab d
         |  ON k.cell = d.p_cell AND k.m = d.m AND k.code = d.code
         | WHERE d.q_id <> k.vec_id GROUP BY d.q_id, k.vec_id),
         |short AS (
         | SELECT q_id, vec_id, adc_dist, rn FROM (
         |  SELECT q_id, vec_id, adc_dist,
         |   row_number() OVER (PARTITION BY q_id
         |     ORDER BY adc_dist, vec_id) AS rn
         |  FROM adc) t WHERE rn <= $PqShortlist),
         |top5 AS (SELECT q_id, vec_id AS c_id FROM short WHERE rn <= 5),
         |tpairs AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id >= 100 AND q.vec_id < 120),
         |truth AS (
         | SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
         |  FROM tpairs) t WHERE rnk <= 5),
         |rr5 AS (
         | SELECT q_id, c_id FROM (
         |  SELECT s.q_id, s.vec_id AS c_id,
         |   row_number() OVER (PARTITION BY s.q_id ORDER BY
         |     ${cos("qe.embedding", "ce.embedding")} DESC, s.vec_id) AS rrk
         |  FROM short s
         |   JOIN embeddings qe ON s.q_id = qe.vec_id
         |   JOIN embeddings ce ON s.vec_id = ce.vec_id) t WHERE rrk <= 5),
         |ncand AS (
         | SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_cand
         | FROM adc GROUP BY q_id),
         |h AS (
         | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_adc
         | FROM truth t LEFT JOIN top5 a
         |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id),
         |hr AS (
         | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_rr
         | FROM truth t LEFT JOIN rr5 a
         |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id)
         |SELECT h.q_id, n_cand, hits_adc,
         | CAST(hits_adc AS DOUBLE) / 5.0 AS recall_adc,
         | hits_rr, CAST(hits_rr AS DOUBLE) / 5.0 AS recall_rr
         |FROM ncand JOIN h ON ncand.q_id = h.q_id
         | JOIN hr ON h.q_id = hr.q_id
         |ORDER BY h.q_id""".stripMargin
    },

    "v12_dim_stats" ->
      """WITH m AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
        |  list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> abs(x))) AS max_abs
        | FROM embeddings),
        |sc AS (
        | SELECT vec_id, ed,
        |  CASE WHEN max_abs = 0 THEN 0.0 ELSE 127.0 / max_abs END AS scale
        | FROM m),
        |q AS (
        | SELECT vec_id,
        |  list_transform(ed, x -> CAST(round(x * scale) AS BIGINT)) AS q8
        | FROM sc),
        |ex AS (
        | SELECT CAST(generate_subscripts(q8, 1) - 1 AS BIGINT) AS dim,
        |  unnest(q8) AS qv
        | FROM q)
        |SELECT dim, COUNT(*) AS n,
        | CAST(SUM(qv) AS BIGINT) AS sum_q,
        | CAST(SUM(qv * qv) AS BIGINT) AS sumsq_q,
        | CAST(SUM(CASE WHEN abs(qv) = 127 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_sat,
        | CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS mean_q,
        | CAST(COUNT(*) * SUM(qv * qv) - SUM(qv) * SUM(qv) AS DOUBLE)
        |   / CAST(COUNT(*) * COUNT(*) AS DOUBLE) AS var_q
        |FROM ex GROUP BY dim ORDER BY dim""".stripMargin,

    "v13_per_dim_quant" ->
      """WITH m AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
        |  list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> abs(x))) AS max_abs
        | FROM embeddings),
        |ex AS (
        | SELECT vec_id,
        |  CAST(generate_subscripts(ed, 1) - 1 AS BIGINT) AS dim,
        |  unnest(ed) AS x, max_abs
        | FROM m),
        |dm AS (
        | SELECT dim, MAX(abs(x)) AS dim_max FROM ex GROUP BY dim),
        |vec AS (
        | SELECT dim,
        |  CAST(SUM(CASE WHEN abs(CAST(round(
        |      x * (CASE WHEN max_abs = 0 THEN 0.0 ELSE 127.0 / max_abs END)
        |    ) AS BIGINT)) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat_vec
        | FROM ex GROUP BY dim),
        |pd AS (
        | SELECT ex.dim,
        |  CAST(SUM(CASE WHEN abs(CASE WHEN dm.dim_max = 0 THEN 0
        |    ELSE CAST(round(x / dm.dim_max * 127.0) AS BIGINT) END) = 127
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sat_dim
        | FROM ex JOIN dm ON ex.dim = dm.dim GROUP BY ex.dim)
        |SELECT dm.dim, dm.dim_max, vec.n_sat_vec, pd.n_sat_dim
        |FROM dm JOIN vec ON dm.dim = vec.dim JOIN pd ON dm.dim = pd.dim
        |ORDER BY dm.dim""".stripMargin,

    // v28: v01's float-cosine truth vs the per-vector int8 codes ranked
    // by exact integer dot; overlap@5 + top-1 survival per query.
    "v28_int8_recall_audit" ->
      s"""WITH pf AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |tf AS (
         | SELECT q_id, c_id,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id) AS BIGINT) AS r_f
         | FROM pf QUALIFY r_f <= 5),
         |q8 AS (
         | SELECT vec_id, list_transform(ed, x ->
         |   CAST(round(x * (CASE WHEN mab = 0 THEN 0.0
         |     ELSE 127.0 / mab END)) AS BIGINT)) AS q8
         | FROM (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
         |   list_max(list_transform(CAST(embedding AS DOUBLE[]),
         |     x -> abs(x))) AS mab
         |  FROM embeddings WHERE embedding IS NOT NULL) t),
         |pq AS (
         | SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |  CAST(list_sum(list_transform(range(64),
         |    i -> a.q8[i+1] * b.q8[i+1])) AS BIGINT) AS dot
         | FROM q8 a JOIN q8 b ON a.vec_id <> b.vec_id
         | WHERE a.vec_id < 20),
         |tq AS (
         | SELECT q_id, c_id,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY dot DESC, c_id) AS BIGINT) AS r_q
         | FROM pq QUALIFY r_q <= 5),
         |f AS (
         | SELECT COALESCE(tf.q_id, tq.q_id) AS q_id,
         |  COALESCE(tf.c_id, tq.c_id) AS c_id, tf.r_f, tq.r_q
         | FROM tf FULL OUTER JOIN tq
         |  ON tf.q_id = tq.q_id AND tf.c_id = tq.c_id)
         |SELECT q_id,
         | CAST(SUM(CASE WHEN r_f IS NOT NULL AND r_q IS NOT NULL
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
         | CAST(CASE WHEN MAX(CASE WHEN r_f = 1 THEN c_id END) =
         |   MAX(CASE WHEN r_q = 1 THEN c_id END)
         |   THEN 1 ELSE 0 END AS BIGINT) AS top1_same
         |FROM f GROUP BY q_id ORDER BY q_id""".stripMargin,

    "v14_embed_dup_clusters" ->
      s"""WITH RECURSIVE $duckBandedPairCtes,
         |edges AS (
         | SELECT va AS a, vb AS b FROM neardup
         | UNION SELECT vb, va FROM neardup
         | UNION SELECT va, va FROM neardup
         | UNION SELECT vb, vb FROM neardup),
         |reach AS (
         | SELECT a, b FROM edges
         | UNION
         | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS vec_id, CAST(MIN(b) AS BIGINT) AS cluster
         |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin,

    "v15_miner_recall" ->
      s"""WITH sl AS (
         | SELECT * FROM embeddings WHERE vec_id < 200),
         |${duckBandedPairCtesOn("sl")},
         |truth AS (
         | SELECT a.vec_id AS va, b.vec_id AS vb
         | FROM sl a JOIN sl b ON a.vec_id < b.vec_id
         | WHERE ${cos("a.embedding", "b.embedding")} > 0.4),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
         |nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mined FROM neardup),
         |nh AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
         | FROM neardup n JOIN truth t ON n.va = t.va AND n.vb = t.vb)
         |SELECT n_truth, n_mined, n_hit,
         | CAST(n_hit AS DOUBLE) / n_truth AS recall
         |FROM nt, nm, nh""".stripMargin,

    "v21_hamming_rerank" ->
      s"""WITH sigs AS (
         | SELECT vec_id, (${duckSigBits(HamBits)}) AS sig
         | FROM embeddings),
         |ham AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) AS ham
         | FROM sigs q JOIN sigs c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id < 20),
         |short AS (
         | SELECT q_id, c_id, ham,
         |  row_number() OVER (PARTITION BY q_id ORDER BY ham, c_id)
         |    AS hrn
         | FROM ham),
         |rr AS (
         | SELECT s.q_id, s.c_id, s.ham,
         |  ${cos("eq.embedding", "ec.embedding")} AS sim
         | FROM short s
         |  JOIN embeddings eq ON s.q_id = eq.vec_id
         |  JOIN embeddings ec ON s.c_id = ec.vec_id
         | WHERE s.hrn <= $HamShortlist),
         |ranked AS (
         | SELECT q_id, c_id, ham, sim,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id) AS BIGINT) AS rnk
         | FROM rr)
         |SELECT q_id, c_id, rnk, ham, sim FROM ranked WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,

    // Same two shortlists + RRF fusion; the fused score keeps the same
    // fixed add order (lex term first) so the doubles are bit-identical.
    "v25_hybrid_rrf" ->
      s"""WITH d AS (
         | SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
         | FROM documents WHERE text IS NOT NULL),
         |corpus AS (
         | SELECT d.doc_id, d.tset, e.embedding
         | FROM d JOIN embeddings e ON d.doc_id = e.vec_id),
         |q AS (
         | SELECT doc_id AS q_id, tset AS q_tset, embedding AS q_emb
         | FROM corpus WHERE doc_id < 20),
         |c AS (
         | SELECT doc_id AS c_id, tset AS c_tset, embedding AS c_emb
         | FROM corpus),
         |pairs AS (
         | SELECT * FROM q JOIN c ON q_id <> c_id),
         |lex AS (
         | SELECT q_id, c_id, r_lex FROM (
         |  SELECT q_id, c_id,
         |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY
         |     CAST(len(list_intersect(q_tset, c_tset)) AS DOUBLE) /
         |     CAST(len(q_tset) + len(c_tset)
         |       - len(list_intersect(q_tset, c_tset)) AS DOUBLE) DESC,
         |     c_id) AS BIGINT) AS r_lex
         |  FROM pairs) t WHERE r_lex <= 20),
         |vec AS (
         | SELECT q_id, c_id, r_vec FROM (
         |  SELECT q_id, c_id,
         |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY
         |     ${cos("q_emb", "c_emb")} DESC, c_id) AS BIGINT) AS r_vec
         |  FROM pairs) t WHERE r_vec <= 20),
         |fused AS (
         | SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         |  COALESCE(l.c_id, v.c_id) AS c_id, l.r_lex, v.r_vec,
         |  COALESCE(CAST(1 AS DOUBLE) / CAST(60 + l.r_lex AS DOUBLE),
         |    CAST(0 AS DOUBLE)) +
         |  COALESCE(CAST(1 AS DOUBLE) / CAST(60 + v.r_vec AS DOUBLE),
         |    CAST(0 AS DOUBLE)) AS rrf
         | FROM lex l FULL OUTER JOIN vec v
         |  ON l.q_id = v.q_id AND l.c_id = v.c_id)
         |SELECT q_id, rnk, c_id,
         | CAST(COALESCE(r_lex, 0) AS BIGINT) AS r_lex,
         | CAST(COALESCE(r_vec, 0) AS BIGINT) AS r_vec, rrf
         |FROM (
         | SELECT q_id, c_id, r_lex, r_vec, rrf,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf DESC, c_id) AS BIGINT) AS rnk
         | FROM fused) t
         |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

    // DuckDB twin of the indexed hybrid: vector shortlist from v18's
    // shared CTE chain (annIndexCtes — the index is a materialized
    // view), lexical shortlist from an inline recomputation of the
    // postings (tf/df/dl/stats), BM25 in the same e9 fixed-point
    // (HUGEINT ≙ Spark's DECIMAL(38) for the ×10⁹ step, // ≙ div),
    // identical RRF fusion.
    "v25b_hybrid_rrf_indexed" ->
      s"""WITH ${annIndexCtes("q.vec_id >= 100 AND q.vec_id < 120")},
         |vshort AS (
         | SELECT q_id, c_id, CAST(rnk AS BIGINT) AS r_vec
         | FROM reranked WHERE rnk <= 20),
         |dd AS (
         | SELECT doc_id, string_split(text, ' ') AS toks
         | FROM documents WHERE text IS NOT NULL),
         |tc AS (
         | SELECT c_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
         | FROM (SELECT doc_id AS c_id,
         |        CAST(len(toks) AS BIGINT) AS dl,
         |        unnest(toks) AS tok FROM dd) t
         | GROUP BY c_id, dl, tok),
         |vocab AS (
         | SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
         | FROM tc GROUP BY tok),
         |st AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(len(toks)) AS BIGINT) AS a FROM dd),
         |qt AS (
         | SELECT doc_id AS q_id, unnest(list_distinct(toks)) AS tok
         | FROM dd WHERE doc_id >= 100 AND doc_id < 120),
         |lhits AS (
         | SELECT qt.q_id, tc.c_id,
         |  CAST(CAST(2*st.n - 2*v.df + 1 AS HUGEINT)
         |    * tc.tf * 44 * st.a * 1000000000 //
         |   (CAST(2*v.df + 1 AS HUGEINT)
         |    * (20 * CAST(st.a AS HUGEINT) * tc.tf
         |       + 6 * CAST(st.a AS HUGEINT)
         |       + 18 * CAST(tc.dl AS HUGEINT) * st.n))
         |   AS BIGINT) AS c_e9
         | FROM qt JOIN tc ON qt.tok = tc.tok
         |  JOIN vocab v ON qt.tok = v.tok CROSS JOIN st
         | WHERE qt.q_id <> tc.c_id),
         |lsc AS (
         | SELECT q_id, c_id, CAST(SUM(c_e9) AS BIGINT) AS score_e9
         | FROM lhits GROUP BY q_id, c_id),
         |lshort AS (
         | SELECT q_id, c_id, r_lex FROM (
         |  SELECT q_id, c_id,
         |   CAST(row_number() OVER (PARTITION BY q_id
         |     ORDER BY score_e9 DESC, c_id) AS BIGINT) AS r_lex
         |  FROM lsc) t WHERE r_lex <= 20),
         |bfused AS (
         | SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         |  COALESCE(l.c_id, v.c_id) AS c_id, l.r_lex, v.r_vec,
         |  COALESCE(CAST(1 AS DOUBLE) / CAST(60 + l.r_lex AS DOUBLE),
         |    CAST(0 AS DOUBLE)) +
         |  COALESCE(CAST(1 AS DOUBLE) / CAST(60 + v.r_vec AS DOUBLE),
         |    CAST(0 AS DOUBLE)) AS rrf
         | FROM lshort l FULL OUTER JOIN vshort v
         |  ON l.q_id = v.q_id AND l.c_id = v.c_id)
         |SELECT q_id, rnk, c_id,
         | CAST(COALESCE(r_lex, 0) AS BIGINT) AS r_lex,
         | CAST(COALESCE(r_vec, 0) AS BIGINT) AS r_vec, rrf
         |FROM (
         | SELECT q_id, c_id, r_lex, r_vec, rrf,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf DESC, c_id) AS BIGINT) AS rnk
         | FROM bfused) t
         |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

    // v09's training CTEs verbatim (same codebook), then ONE corpus
    // assignment and ONE depth-8 probe ranking shared by all four
    // operating points — each leg is a prn filter, like the engine.
    "v26_nprobe_sweep" -> {
      def dist(a: String, b: String): String =
        s"list_sum(list_transform(range(64), ii -> ($a[ii+1] - $b[ii+1]) * ($a[ii+1] - $b[ii+1])))"
      def assignCte(name: String, cents: String): String =
        s"""$name AS (
           | SELECT vec_id, qv, cid FROM (
           |  SELECT q.vec_id, q.qv, c.cid,
           |   row_number() OVER (PARTITION BY q.vec_id
           |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rn
           |  FROM q CROSS JOIN $cents c) t WHERE rn = 1)"""
          .stripMargin
      def updateCte(dimsName: String, centsName: String,
                    assigned: String): String =
        s"""$dimsName AS (
           | SELECT cid, dim,
           |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
           | FROM (SELECT cid, generate_subscripts(qv, 1) AS dim,
           |        unnest(qv) AS v FROM $assigned) t
           | GROUP BY cid, dim),
           |${dimsName}s AS (
           | SELECT cid, list(mval ORDER BY dim) AS mv,
           |  CAST(SUM(mval * mval) AS BIGINT) AS ss
           | FROM $dimsName GROUP BY cid),
           |$centsName AS (
           | SELECT cid, list_transform(mv, m -> CASE WHEN ss = 0
           |   THEN CAST(0 AS BIGINT)
           |   ELSE CAST(round(CAST(m AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) * 1000) AS BIGINT) END) AS cv
           | FROM ${dimsName}s)""".stripMargin
      def legCtes(p: Int): String =
        s"""rk_p$p AS (
           | SELECT q_id, c_id,
           |  row_number() OVER (PARTITION BY q_id
           |    ORDER BY sim DESC, c_id) AS rnk
           | FROM cand WHERE prn <= $p),
           |nc_p$p AS (
           | SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_cand_p$p
           | FROM cand WHERE prn <= $p GROUP BY q_id),
           |h_p$p AS (
           | SELECT t.q_id, CAST(COUNT(a.c_id) AS BIGINT) AS hits_p$p
           | FROM truth t LEFT JOIN (
           |  SELECT q_id, c_id FROM rk_p$p WHERE rnk <= 5) a
           |  ON t.q_id = a.q_id AND t.c_id = a.c_id GROUP BY t.q_id)"""
          .stripMargin
      s"""WITH q AS (
         | SELECT vec_id,
         |  list_transform(ed, x -> CASE WHEN nrm = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(x / nrm * 1000) AS BIGINT) END) AS qv
         | FROM (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |        CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings) tq),
         |seed AS (
         | SELECT vec_id AS cid, qv AS cv FROM q
         | ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |${assignCte("a1", "seed")},
         |${updateCte("u1", "c1", "a1")},
         |${assignCte("a2", "c1")},
         |${updateCte("u2", "c2", "a2")},
         |tpairs AS (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${cos("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id >= 100 AND q.vec_id < 120),
         |truth AS (
         | SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk
         |  FROM tpairs) WHERE rnk <= 5),
         |af AS (
         | SELECT vec_id AS c_id, cid AS c_cell FROM (
         |  SELECT q.vec_id, c.cid,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rn
         |  FROM q CROSS JOIN c2 c) t WHERE rn = 1),
         |pr AS (
         | SELECT q_id, p_cell, prn FROM (
         |  SELECT q.vec_id AS q_id, c.cid AS p_cell,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS prn
         |  FROM q CROSS JOIN c2 c
         |  WHERE q.vec_id >= 100 AND q.vec_id < 120) t WHERE prn <= 8),
         |cand AS (
         | SELECT p.q_id, a.c_id, p.prn,
         |  ${cos("qe.embedding", "ce.embedding")} AS sim
         | FROM pr p
         |  JOIN embeddings qe ON p.q_id = qe.vec_id
         |  JOIN af a ON p.p_cell = a.c_cell AND p.q_id <> a.c_id
         |  JOIN embeddings ce ON a.c_id = ce.vec_id),
         |${legCtes(1)},
         |${legCtes(2)},
         |${legCtes(4)},
         |${legCtes(8)}
         |SELECT h_p1.q_id,
         | n_cand_p1, hits_p1, CAST(hits_p1 AS DOUBLE) / 5.0 AS recall_p1,
         | n_cand_p2, hits_p2, CAST(hits_p2 AS DOUBLE) / 5.0 AS recall_p2,
         | n_cand_p4, hits_p4, CAST(hits_p4 AS DOUBLE) / 5.0 AS recall_p4,
         | n_cand_p8, hits_p8, CAST(hits_p8 AS DOUBLE) / 5.0 AS recall_p8
         |FROM h_p1
         | JOIN nc_p1 ON h_p1.q_id = nc_p1.q_id
         | JOIN h_p2 ON h_p1.q_id = h_p2.q_id
         | JOIN nc_p2 ON h_p1.q_id = nc_p2.q_id
         | JOIN h_p4 ON h_p1.q_id = h_p4.q_id
         | JOIN nc_p4 ON h_p1.q_id = nc_p4.q_id
         | JOIN h_p8 ON h_p1.q_id = h_p8.q_id
         | JOIN nc_p8 ON h_p1.q_id = nc_p8.q_id
         |ORDER BY h_p1.q_id""".stripMargin
    },

    // Same exact 5-NN edge set (sim DESC, b_id tiebreak) over the
    // 200-vector slice; degrees/mutuality as plain joins.
    "v27_knn_graph" ->
      s"""WITH sl AS (
         | SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
         |pairs AS (
         | SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${cos("a.embedding", "b.embedding")} AS sim
         | FROM sl a JOIN sl b ON a.vec_id <> b.vec_id),
         |eg AS (
         | SELECT a_id, b_id, sim FROM (
         |  SELECT a_id, b_id, sim,
         |   row_number() OVER (PARTITION BY a_id
         |     ORDER BY sim DESC, b_id) AS rnk
         |  FROM pairs) t WHERE rnk <= 5),
         |outs AS (
         | SELECT a_id, MAX(sim) AS top1_sim, MIN(sim) AS top5_sim
         | FROM eg GROUP BY a_id),
         |ind AS (
         | SELECT b_id AS n_id, CAST(COUNT(*) AS BIGINT) AS in_deg
         | FROM eg GROUP BY b_id),
         |mut AS (
         | SELECT x.a_id, CAST(COUNT(*) AS BIGINT) AS n_mutual
         | FROM eg x JOIN eg y ON x.a_id = y.b_id AND x.b_id = y.a_id
         | GROUP BY x.a_id)
         |SELECT o.a_id AS vec_id,
         | CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg,
         | CAST(COALESCE(m.n_mutual, 0) AS BIGINT) AS n_mutual,
         | o.top1_sim, o.top5_sim
         |FROM outs o
         | LEFT JOIN ind i ON o.a_id = i.n_id
         | LEFT JOIN mut m ON o.a_id = m.a_id
         |ORDER BY vec_id""".stripMargin
  )

  /** Exact integer squared L2 over a PqSub-dim DuckDB list pair. */
  private def pqDist(a: String, b: String): String =
    s"list_sum(list_transform(range($PqSub), ii -> ($a[ii+1] - $b[ii+1]) * ($a[ii+1] - $b[ii+1])))"

  /** DuckDB twin of [[pqEncode]]: normalized int64 vectors, per-subspace
    * md5-seeded codebooks, one floor-mean Lloyd iteration, dense codes. */
  private def pqCtes: String =
    s"""q AS (
       | SELECT vec_id,
       |  list_transform(ed, x -> CASE WHEN nrm = 0
       |    THEN CAST(0 AS BIGINT)
       |    ELSE CAST(round(x / nrm * 1000) AS BIGINT) END) AS qv
       | FROM (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
       |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |        CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings) tq),
       |ms AS (SELECT unnest(range($PqM)) AS m),
       |subs AS (
       | SELECT vec_id, m,
       |  list_slice(qv, m * $PqSub + 1, m * $PqSub + $PqSub) AS sub
       | FROM q CROSS JOIN ms),
       |seed8 AS (
       | SELECT vec_id, qv, md5(CAST(vec_id AS VARCHAR)) AS mk FROM q
       | ORDER BY mk, vec_id LIMIT $PqK),
       |seeds AS (
       | SELECT vec_id, qv,
       |  CAST(row_number() OVER (ORDER BY mk, vec_id) - 1 AS BIGINT) AS code
       | FROM seed8),
       |seedsub AS (
       | SELECT code, m,
       |  list_slice(qv, m * $PqSub + 1, m * $PqSub + $PqSub) AS cv
       | FROM seeds CROSS JOIN ms),
       |a1 AS (
       | SELECT vec_id, m, sub, code FROM (
       |  SELECT s.vec_id, s.m, s.sub, c.code,
       |   row_number() OVER (PARTITION BY s.vec_id, s.m
       |     ORDER BY ${pqDist("s.sub", "c.cv")}, c.code) AS rn
       |  FROM subs s JOIN seedsub c ON s.m = c.m) t WHERE rn = 1),
       |u1 AS (
       | SELECT m, code, dim,
       |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
       | FROM (SELECT m, code, generate_subscripts(sub, 1) AS dim,
       |        unnest(sub) AS v FROM a1) t
       | GROUP BY m, code, dim),
       |cb AS (SELECT m, code, list(mval ORDER BY dim) AS cv
       |       FROM u1 GROUP BY m, code),
       |codes AS (
       | SELECT vec_id, m, code FROM (
       |  SELECT s.vec_id, s.m, c.code,
       |   row_number() OVER (PARTITION BY s.vec_id, s.m
       |     ORDER BY ${pqDist("s.sub", "c.cv")}, c.code) AS rn
       |  FROM subs s JOIN cb c ON s.m = c.m) t WHERE rn = 1)""".stripMargin
}
