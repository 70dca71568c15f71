package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Text-analysis operators over `documents`: language-ID heuristics,
  * quality scoring, token counting (whitespace + regex tokenizers),
  * positional document fingerprinting, chunking, the FineWeb-style
  * keep/drop filter chain, TF-IDF terms, and Gopher-style repetition
  * signals. Training-data-pipeline extension surface (not in the
  * bounded-relational reference).
  *
  * All scores are ratios of exact integers (token/char counts), so the
  * doubles are bit-identical across engines — no rounding tolerance needed.
  * Everything is per-row projection + one aggregation: linear scans that
  * partition trivially at 100 TB (no shuffles except the final groupBy).
  */
object TextAnalysis {

  /** Pre-materialized INVERTED INDEX over `documents` — the lexical
    * twin of v18's ANN artifact and the engine behind v25b's BM25
    * shortlist: per-(token, doc) postings with the tf, and the df and
    * doc length DENORMALIZED onto each row (df/dl are static per
    * corpus version, and carrying them in the posting makes the probe
    * a single equi-join — no doclen join at query time), plus a
    * (tok, tid, df) VOCAB table and a 1-row corpus stats table
    * (N docs, A tokens).
    *
    * Postings are DICTIONARY-ENCODED (round-12, verdict #4): the join
    * key is an int32 token id, not the raw string — at 100 TB the
    * posting rows dominate the artifact and the probe's shuffle bytes,
    * and a 4-byte key beats a variable-length UTF-8 token both at rest
    * and on the wire (parquet's per-rowgroup string dictionary doesn't
    * help the EXCHANGE). Ids are dense ranks of the sorted vocab,
    * assigned with zipWithIndex (per-partition offsets — distributed
    * and deterministic; a row_number window would funnel the whole
    * vocab through ONE partition). Probes resolve their few query
    * tokens against the vocab first (broadcast of the query side), so
    * the corpus-sized postings never see a string compare. int32 holds
    * to 2^31 distinct types — beyond any observed natural-language
    * vocab even at web scale.
    *
    * Built once per corpus fingerprint, published atomically
    * ([[IndexStore]] discipline); Bench's warmup builds it, so the
    * measured pass times the probe alone. Probe cost is
    * Σ df(query terms) — never a corpus scan. Returns the index
    * directory. */
  private[llm] def ensurePostingsIndex(s: SparkSession,
                                       dir: String): String = {
    val base = IndexStore.path(IndexStore.Postings,
      new java.io.File(s"$dir/documents.parquet"))
    IndexStore.ensureBuilt(base) { tmp =>
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))
      // explode_outer: split() output is provably non-empty, and the
      // non-outer variant would push size(toks) > 0 into the scan
      // (serialized, evaluated twice — the CDC-dedup lesson).
      val tf = docs
        .select(col("doc_id"), col("dl"),
          explode_outer(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("dl"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val vocabSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tok",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("df",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("tid",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
      s.createDataFrame(
          df.orderBy(col("tok")).rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row(r.getString(0), r.getLong(1),
              (i + 1).toInt)
          }, vocabSchema)
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "vocab").getPath)
      // Postings join the WRITTEN vocab (not the in-memory plan) so the
      // two artifact tables are self-consistent by construction.
      val vocab = s.read.parquet(new java.io.File(tmp, "vocab").getPath)
      // CLUSTERED by (tid, c_id): a posting list is meant to be read a
      // token at a time — the sort keeps each tid's rows contiguous
      // (parquet row-group min/max prunes non-probed tokens) and makes
      // the low-cardinality tid/df/dl columns RLE to near nothing.
      // Round 17 (guide §6 — file layout for anything we write): the
      // former global orderBy collapsed (via AQE range-coalescing at
      // small SF) to ONE output file, so every later probe's scan —
      // including the per-hit BM25 scoring that rides it — ran as ONE
      // task (v25b: 3.6 s / 81% of its plan on one core, StageProfile).
      // repartitionByRange with an explicit partition count keeps the
      // (tid, c_id) clustering contract — each file covers a contiguous
      // tid range, so parquet min/max still prunes non-probed tokens
      // and the low-cardinality columns still RLE — while giving probe
      // scans file-grain parallelism at any SF. The count is the
      // scale-parameterized core count locally; a cluster build would
      // size it by target file bytes (same §6 rule).
      tf.join(vocab, "tok")
        .select(col("tid"), col("doc_id").as("c_id"), col("tf"),
          col("df"), col("dl"))
        .repartitionByRange(s.sparkContext.defaultParallelism,
          col("tid"), col("c_id"))
        .sortWithinPartitions(col("tid"), col("c_id"))
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "postings").getPath)
      docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("a"))
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "stats").getPath)
    }
  }

  private val StopWords = Seq("the", "a", "of", "and", "to")

  private def toks: Column = split(col("text"), " ")

  private def stopHits: Column =
    size(filter(toks, t => t.isin(StopWords.map(lit): _*)))
      .cast("long")

  /** t07's keep decision over a non-NULL `text` column, as one boolean
    * — shared with Dedup's d24 end-to-end pipeline composite so the
    * filter semantics live in ONE place. Equivalent to t07's CASE
    * (kept ⇔ none of too_short / repetitive / low_quality fires); the
    * arithmetic is the same exact integer ratios, so the DuckDB twin
    * ([[keepFiltCteSql]]) reproduces the decision bit-for-bit. */
  private[llm] def keepPredicate: Column = {
    val ntoks = size(toks).cast("long")
    val ndist = size(array_distinct(toks)).cast("long")
    val nchars = length(col("text")).cast("long")
    val avgTok = (nchars - ntoks + 1).cast("double") / ntoks
    val q = lit(0.4) * least(ntoks.cast("double") / 50.0, lit(1.0)) +
      lit(0.3) * (stopHits.cast("double") / ntoks) +
      lit(0.3) * least(avgTok / 5.0, lit(1.0))
    ntoks >= 10 && ndist * 10 >= ntoks * 3 && q >= 0.5
  }

  /** DuckDB twin of [[keepPredicate]]: CTEs `tq` (per-doc counts over
    * non-NULL text) and `filt` (the kept docs with doc_id, source,
    * text, n_toks, content hash h). */
  private[llm] def keepFiltCteSql: String =
    s"""tq AS (
       | SELECT doc_id, source, text,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
       |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
       |    AS n_distinct,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(list_filter(string_split(text,' '),
       |    t -> t IN (${StopWords.map(w => s"'$w'").mkString(", ")})))
       |    AS BIGINT) AS n_stop
       | FROM documents WHERE text IS NOT NULL),
       |filt AS (
       | SELECT doc_id, source, text, n_toks, md5(text) AS h FROM tq
       | WHERE n_toks >= 10 AND n_distinct * 10 >= n_toks * 3
       |   AND 0.4 * least(CAST(n_toks AS DOUBLE) / 50.0, 1.0) +
       |       0.3 * (CAST(n_stop AS DOUBLE) / n_toks) +
       |       0.3 * least((CAST(n_chars - n_toks + 1 AS DOUBLE)
       |         / n_toks) / 5.0, 1.0) >= 0.5)""".stripMargin

  /** PII patterns shared by the graded t10 query, [[piiRedact]], and the
    * unit spec. Hyphen-only phone grammar on purpose: allowing dots
    * would let the phone pattern bite into dotted IPv4 octets.
    * Both engines get the same source strings (Java regex and DuckDB's
    * RE2 agree on this subset: classes, bounded repeats, \b, \d). */
  private[graft] val EmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private[graft] val Ipv4Re =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction: emails → [EMAIL], then dotted IPv4 → [IP], then
    * hyphenated phones → [PHONE]. Most-specific-first so a narrower
    * pattern never bites a fragment of a wider one. Pure codegen'd
    * projection (regexp_replace ×3), no shuffle — the shape a 100 TB
    * scrub pass needs: linear scan, trivially partitionable. */
  def piiRedact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "[EMAIL]"), Ipv4Re, "[IP]"), PhoneRe, "[PHONE]")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t01_lang_stats" -> { (s, dir) =>
      // Language-profile stats: per tagged lang, stopword-hit ratio of an
      // English stoplist — the n-gram-profile language-ID building block.
      Tables.load(s, dir, "documents")
        .select(col("lang"), size(toks).cast("long").as("n_toks"),
          stopHits.as("n_stop"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_toks"),
          (sum(col("n_stop")).cast("double") / sum(col("n_toks")))
            .as("stop_ratio"))
        .orderBy(col("lang"))
    },

    "t02_quality_score" -> { (s, dir) =>
      // Doc-quality scoring: length, avg token length, stopword ratio →
      // weighted score. Integer-ratio arithmetic → deterministic doubles.
      Tables.load(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_toks"),
          length(col("text")).cast("long").as("n_chars"),
          stopHits.as("n_stop"))
        .withColumn("avg_tok_len",
          (col("n_chars") - col("n_toks") + 1).cast("double") / col("n_toks"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_toks"))
        .withColumn("quality",
          lit(0.4) * least(col("n_toks").cast("double") / 50.0, lit(1.0)) +
          lit(0.3) * col("stop_ratio") +
          lit(0.3) * least(col("avg_tok_len") / 5.0, lit(1.0)))
        .select(col("doc_id"), col("n_toks"), col("n_chars"),
          col("avg_tok_len"), col("stop_ratio"), col("quality"))
        .orderBy(col("doc_id"))
    },

    "t03_token_count" -> { (s, dir) =>
      // Whitespace tokenizer vs BPE-ish regex tokenizer vs distinct count.
      Tables.load(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
            .cast("long").as("n_re"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .orderBy(col("doc_id"))
    },

    "t05_lang_predict" -> { (s, dir) =>
      // Per-doc language prediction from the stopword-profile score +
      // confusion matrix against the tagged lang.
      Tables.load(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          (stopHits.cast("double") / size(toks)).as("en_score"))
        .withColumn("predicted",
          when(col("en_score") >= 0.08, "en").otherwise("other"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },

    "t04_fingerprint" -> { (s, dir) =>
      // Positional rolling-hash fingerprint: sum((pos+1) * tokhash) mod p.
      // Order-sensitive content signature, computed with exact int64 math.
      val P2 = 1000003L
      // NULL-text guard: outer explode of a NULL-derived array would
      // emit a NULL row where DuckDB's unnest(NULL) emits nothing; the
      // pushed IsNotNull makes outer row-identical to inner on any
      // corpus (same guard at every outer-explode site in this file).
      val ex = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), posexplode_outer(toks).as(Seq("pos", "t")))
        .withColumn("h",
          conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10)
            .cast("long") % P2)
      ex.groupBy(col("doc_id"))
        .agg((sum((col("pos") + 1) * col("h")) % P2).as("fingerprint"))
        .orderBy(col("doc_id"))
    },

    "t06_chunking" -> { (s, dir) =>
      // Sliding-window chunking (size 50 tokens, stride 40 => overlap
      // 10) — the pretraining/RAG shard-prep primitive. Pure per-row
      // array work (sequence + slice, all codegen); the chunk explode is
      // the only row multiplier and it is bounded by doc length / stride.
      // Chunks are content-addressed with md5 for a compact compare.
      val C = 50
      val S = 40
      val starts = sequence(lit(0),
        greatest(size(toks) - 1, lit(0)), lit(S))
      Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
        .select(col("doc_id"), toks.as("tk"),
          explode_outer(starts).as("chunk_start"))
        .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
          least(lit(C), size(col("tk")) - col("chunk_start")).cast("long")
            .as("n_chunk_toks"),
          md5(array_join(slice(col("tk"), col("chunk_start") + 1, lit(C)), " ")
            .cast("binary")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_start"))
    },

    "t08_tfidf_terms" -> { (s, dir) =>
      // Top distinguishing terms per document — the TF-IDF retrieval
      // primitive, scored log-free (tf * N / df: exact-int ratio, one
      // double op) so both engines produce identical bits. At corpus
      // scale: one explode, two shuffles (term-count per doc, doc-freq
      // per term), a bucket join on term, a per-doc top-k window —
      // exactly the distributed shape of a real TF-IDF job.
      val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 100)
      val nDocs = 100L // fixed slice => constant N on both engines
      val toksEx = docs.filter(col("text").isNotNull) // NULL-text guard (see t04)
        .select(col("doc_id"),
          explode_outer(split(col("text"), " ")).as("term"))
      val tf = toksEx.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = toksEx.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(df, "term")
        .withColumn("score",
          col("tf").cast("double") * nDocs / col("df"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
          col("df"), col("score"))
        .orderBy(col("doc_id"), col("rnk"))
    },

    "t07_filter_pipeline" -> { (s, dir) =>
      // The keep/drop FILTER CHAIN a pretraining pipeline runs per doc
      // (FineWeb-style): length gate → repetition gate (distinct-token
      // ratio, INTEGER cross-multiplied so the threshold compare is
      // exact) → quality gate (t02's score; its arithmetic is exact
      // integer ratios, so the < threshold compare reproduces). First
      // failing rule names the drop reason — per-row projection only.
      val q = {
        val ntoks = size(toks).cast("long")
        val nchars = length(col("text")).cast("long")
        val avgTok = (nchars - ntoks + 1).cast("double") / ntoks
        lit(0.4) * least(ntoks.cast("double") / 50.0, lit(1.0)) +
          lit(0.3) * (stopHits.cast("double") / ntoks) +
          lit(0.3) * least(avgTok / 5.0, lit(1.0))
      }
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_toks"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          q.as("quality"))
        .withColumn("reason",
          when(col("n_toks") < 10, "too_short")
            .when(col("n_distinct") * 10 < col("n_toks") * 3, "repetitive")
            .when(col("quality") < 0.5, "low_quality")
            .otherwise("kept"))
        .withColumn("keep",
          (col("reason") === "kept").cast("long"))
        .select(col("doc_id"), col("n_toks"), col("reason"), col("keep"))
        .orderBy(col("doc_id"))
    },

    "t09_repetition_filter" -> { (s, dir) =>
      // Gopher-style REPETITION signals: within-doc duplicate-token and
      // duplicate-3-gram fractions (the boilerplate/spam gates of the
      // Gopher/FineWeb filter batteries). Pure per-row array work
      // (sequence/transform/array_distinct — all codegen, no shuffle,
      // no UDF); fractions are exact-integer ratios so the doubles and
      // the keep decision are bit-identical across engines.
      val tk = toks
      val grams = transform(
        sequence(lit(0), greatest(size(tk) - 3, lit(0))),
        i => array_join(slice(tk, i + 1, lit(3)), " "))
      Tables.load(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), tk.as("tk"), grams.as("g3"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_toks"),
          (lit(1.0) - size(array_distinct(col("tk"))).cast("double")
            / size(col("tk"))).as("dup_tok_frac"),
          (lit(1.0) - size(array_distinct(col("g3"))).cast("double")
            / size(col("g3"))).as("dup_3gram_frac"))
        .withColumn("keep",
          (col("dup_tok_frac") <= 0.7 && col("dup_3gram_frac") <= 0.2)
            .cast("long"))
        .orderBy(col("doc_id"))
    },

    "t10_pii_redaction" -> { (s, dir) =>
      // PII detection + redaction over documents. The synthetic corpus
      // carries no PII, so each doc gets a deterministic contact block
      // derived from (doc_id, source), repeated 1-3 times — counts vary
      // per row and the DuckDB oracle reproduces the same raw strings
      // bit-for-bit. The graded artifact is the regex surface itself:
      // per-pattern occurrence counts plus the redacted text. The unit
      // spec (PiiSpec) exercises real-world positives/negatives and
      // idempotence on a hand corpus.
      val contact = concat(
        lit(" contact "), col("source"), lit("_"),
        col("doc_id").cast("string"), lit("@example.com tel 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") * 7 % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"), lit("."),
        (expr("doc_id div 256") % 256).cast("string"), lit(".7"))
      Tables.load(s, dir, "documents").filter(col("doc_id") < 200)
        .withColumn("raw",
          concat(col("text"), repeat(contact, (col("doc_id") % 3 + 1).cast("int"))))
        .select(col("doc_id"),
          regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phones"),
          regexp_count(col("raw"), lit(Ipv4Re)).cast("long").as("n_ips"),
          piiRedact(col("raw")).as("clean_text"))
        .orderBy(col("doc_id"))
    },

    "t11_vocab_profile" -> { (s, dir) =>
      // Doc-level corpus-frequency profile — the document-granularity
      // complement of t08's term-level TF-IDF: per doc, the document
      // frequency of its rarest token (min_df — low means the doc uses
      // vocabulary few other docs touch), total and mean DF mass, and
      // distinct-token width. The quality-filter shape that ranks docs
      // by vocabulary specificity. Two shuffles, both on uniform keys
      // (token for the DF aggregate, doc_id for the profile); the
      // re-attach join fans out per OCCURRENCE (row-wise, no bucket
      // blowup) — linear at corpus scale. All outputs are exact
      // integers or ratios of exact integers.
      val ex = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
        .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("tok"))
      val dfreq = ex.groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
      ex.join(dfreq, "tok")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          countDistinct(col("tok")).as("n_distinct"),
          min(col("df")).as("min_df"),
          sum(col("df")).as("df_mass"))
        .withColumn("avg_df",
          col("df_mass").cast("double") / col("n_toks"))
        .orderBy(col("doc_id"))
    },

    "t12_bpe_pairs" -> { (s, dir) =>
      // Adjacent-pair frequency statistics — the counting kernel of BPE
      // tokenizer training (each merge round picks the most frequent
      // adjacent pair; ≙ the reference's agg pipeline over unnested
      // lists, `datafusion/.../aggregates/row_hash.rs` shape). Per doc:
      // zip the token list with its own tail (array ops in codegen, no
      // UDF), explode once (~1 pair row per token), then ONE shuffle
      // with map-side partial counts; the global top-20 compiles to
      // TakeOrderedAndProject — only 20 rows per partition cross the
      // final exchange. At 100 TB this is the exact shape of a corpus
      // pair-count job: linear scan, single uniform-key shuffle, O(k)
      // driver result.
      val tk = split(col("text"), " ")
      Tables.load(s, dir, "documents")
        .select(explode(
          zip_with(
            slice(tk, lit(1), size(tk) - 1),
            slice(tk, lit(2), size(tk) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    "t13_shard_drift" -> { (s, dir) =>
      // Token-DISTRIBUTION drift between the two halves of a d14-style
      // hash shard split — the check a pipeline runs before trusting
      // that a deterministic shard assignment didn't skew the data: per
      // token, occurrence counts in each half plus the cross-scaled
      // absolute difference |c0·N1 − c1·N0| (the exact-integer numerator
      // of the frequency delta — comparing c0/N0 vs c1/N1 without a
      // single float), top-20 most drifted. Shape: one explode → one
      // uniform-key shuffle to (token, half) counts → a pivot to one row
      // per token; the two corpus totals are a 1-row aggregate the join
      // broadcasts; top-k is TakeOrderedAndProject. Linear at any corpus
      // size; the drift metric overflows int64 only past ~3·10⁹ tokens
      // per half — at that point the same report runs on DECIMAL(38,0).
      val half = conv(substring(md5(
        concat(col("doc_id").cast("string"), lit(":ep1"))
          .cast("binary")), 1, 15), 16, 10).cast("long") % 2
      val ex = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
        .select(half.as("half"), explode_outer(split(col("text"), " ")).as("tok"))
      val counts = ex.groupBy(col("tok"))
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"))
      val totals = counts.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
      counts.crossJoin(totals)
        .withColumn("drift", abs(col("c0") * col("n1") - col("c1") * col("n0")))
        .select(col("tok"), col("c0"), col("c1"), col("drift"))
        .orderBy(col("drift").desc, col("tok"))
        .limit(20)
    },

    "t16_stopword_discovery" -> { (s, dir) =>
      // DOCUMENT-FREQUENCY stopword discovery — the corpus-derived
      // stoplist a pipeline computes before it can trust any
      // stopword-ratio quality score on a new domain (t01/t02 use a
      // FIXED English list; this derives one). Distinct from t15's
      // term-count Zipf: DF counts each doc once, so a token spammed by
      // one document cannot enter the list. Tokens in >5% of documents
      // report doc frequency, occurrence count, and DF share. Scale:
      // explode → per-doc distinct (map-side combinable groupBy on the
      // token), occurrence counts ride the same explode; the total-doc
      // scalar joins as a 1-row broadcast. Linear, no skew (token key
      // counts are bounded by the DF filter's output size).
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
      val ex = docs.select(col("doc_id"),
        explode_outer(split(col("text"), " ")).as("tok"))
      val stats = ex.groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occur"))
      val total = docs.agg(count(lit(1)).as("total_docs"))
      stats.crossJoin(total)
        .withColumn("df_share",
          col("n_docs").cast("double") / col("total_docs"))
        .filter(col("df_share") > 0.05)
        .select(col("tok"), col("n_docs"), col("n_occur"), col("df_share"))
        .orderBy(col("n_docs").desc, col("tok"))
    },

    "t15_zipf_profile" -> { (s, dir) =>
      // Rank-frequency (Zipf) PROFILE of the corpus vocabulary — the
      // sanity plot every tokenizer/corpus report starts with: top-50
      // tokens with rank, count, and the rank·count Zipf invariant
      // (exact integers; roughly constant under Zipf's law, so a broken
      // tokenizer or a TEMPLATED corpus shows up as a cliff). Scale
      // design: the GLOBAL rank is assigned only AFTER the top-50 cut —
      // the cut itself is TakeOrderedAndProject (50 rows per partition
      // cross the exchange), so no full-vocabulary single-partition
      // window ever exists; the row_number then runs over 50 rows.
      val counts = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
        .select(explode_outer(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(50)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("tok"))
      counts
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("tok"), col("n"),
          (col("rank") * col("n")).as("zipf_rn"))
        .orderBy(col("rank"))
    },

    "t17_sequence_packing" -> { (s, dir) =>
      // SEQUENCE PACKING manifest — how a pretraining run turns a
      // corpus into fixed-budget context windows: documents concatenate
      // in deterministic doc_id order, every B=512 tokens starts a new
      // sequence, and each document is assigned to the sequence its
      // FIRST token lands in. Per sequence: docs started, their token
      // mass, id range, and the straddle spill (tokens that continue
      // past the sequence boundary into the next — the cross-document
      // attention-contamination budget packers track).
      // Scale design: the global token prefix sum uses d13/m06's
      // TWO-GRAIN trick — bucket by doc_id div 64 (order-compatible
      // with the concatenation order), cumulate the bounded bucket
      // totals in one tiny window, give each doc only its within-bucket
      // running sum — so no corpus-wide single-partition window exists
      // at any scale; everything else is exact-integer arithmetic.
      val B = 512L
      val wCut = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket"))
        .rowsBetween(Long.MinValue, -1)
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(Long.MinValue, -1)
      val base = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .withColumn("bucket", expr("doc_id div 64"))
      val cuts = base.groupBy(col("bucket"))
        .agg(sum(col("n_toks")).as("bucket_toks"))
        .withColumn("cum_bucket_before",
          coalesce(sum(col("bucket_toks")).over(wCut), lit(0L)))
        .select(col("bucket"), col("cum_bucket_before"))
      base
        .withColumn("cum_in_bucket",
          coalesce(sum(col("n_toks")).over(wIn), lit(0L)))
        .join(cuts, "bucket")
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
          sum(col("spill")).as("spill_toks"))
        .orderBy(col("seq_id"))
    },

    "t18_bigram_typicality" -> { (s, dir) =>
      // Character-bigram TYPICALITY scoring — the exact-arithmetic core
      // of an n-gram LM quality filter (the KenLM-perplexity gate of
      // CCNet/FineWeb, minus the log): a bigram frequency model trained
      // on the corpus itself scores each document by how typical its
      // character transitions are. Logs would hash-flake (libm ulps
      // differ across engines), so the graded signal is the exact
      // rational family: per doc, total bigram instances, distinct
      // bigrams, bigrams occurring NOWHERE else in the corpus
      // (corpus count == own count — the gibberish indicator), and mean
      // corpus frequency per instance (one closing double division —
      // low = atypical character sequences, the same ranking a log
      // model yields monotonically for unigram-factored scores).
      // Scale: normalization + bigram explode are per-row projections
      // (work ∝ corpus chars); the model is a ≤27² = 729-key aggregate
      // that BROADCASTS back (never a corpus-side shuffle); the per-doc
      // profile re-aggregates on doc_id — two shuffles total, both on
      // uniform keys. Sums stay under 2^53 through sf1 (≈4e14), so the
      // closing int64→double casts are exact in both engines.
      val nd = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
        // docsWithTokens' spread rule (round 17, found by StageProfile):
        // the single-row-group test parquet makes the scan ONE task, and
        // the normalize + per-character bigram explode ran serialized on
        // one core — 2.4 s of a 3.2 s plan, 31 threads idle. One shuffle
        // of the tiny raw docs parallelizes it; at production scale the
        // file count makes the spread proportionally free (guide §2.5:
        // one unsplittable input).
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          regexp_replace(lower(col("text")), "[^a-z ]", "").as("nt"))
      val bg = nd.select(col("doc_id"),
          explode(when(length(col("nt")) >= 2,
            expr("transform(sequence(1, length(nt) - 1)," +
              " i -> substring(nt, i, 2))"))
            .otherwise(array())).as("b"))
      val perDoc = bg.groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("c_doc"))
      val model = perDoc.groupBy(col("b"))
        .agg(sum(col("c_doc")).as("cnt"))
      perDoc.join(broadcast(model), "b")
        .groupBy(col("doc_id"))
        .agg(sum(col("c_doc")).as("n_bg"),
          count(lit(1)).as("n_distinct_bg"),
          sum(when(col("cnt") === col("c_doc"), 1L).otherwise(0L))
            .as("n_own_only"),
          sum(col("c_doc") * col("cnt")).as("typ_mass"))
        .withColumn("typicality",
          col("typ_mass").cast("double") / col("n_bg").cast("double"))
        .orderBy(col("doc_id"))
    },

    "t19_heavy_tokens" -> { (s, dir) =>
      // HEAVY-HITTER discovery with the Misra-Gries sketch ON the
      // graded path: tokens whose exact frequency strictly exceeds
      // n/50 of the corpus token stream (k=50 — the stopword band on a
      // Zipf vocabulary), with an `in_sketch` column computed from the
      // live `mg_topk` aggregate. The mergeable-summaries guarantee
      // says every such token MUST survive the 49-slot sketch under
      // ANY partitioning/merge order — so in_sketch is deterministically
      // 1, the DuckDB twin asserts the constant, and a sketch that ever
      // violates its bound fails the hash gate. (Stored sketch COUNTS
      // are merge-order-sensitive lower bounds, so they stay off the
      // graded row; `HeavyHittersSpec` pins the count bound instead —
      // the a19/a20 split: exact regime graded, error bound
      // spec-pinned.) Scale: one token explode feeds BOTH the exact
      // groupBy (partial-aggregated, uniform key) and the O(k)-state
      // sketch aggregate; the 1-row total and the ≤49-key sketch map
      // broadcast back — nothing corpus-sized shuffles twice.
      val toks = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
        .select(explode_outer(split(col("text"), " ")).as("tok"))
      val total = toks.agg(count(lit(1)).as("n"))
      val sketch = toks.agg(expr("mg_topk(tok, 50)").as("mg"))
        .select(explode(map_keys(col("mg"))).as("sk_tok"))
      toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .crossJoin(broadcast(total))
        .filter(col("freq") * 50 > col("n"))
        .join(broadcast(sketch), col("tok") === col("sk_tok"),
          "left_outer")
        .select(col("tok"), col("freq"),
          when(col("sk_tok").isNotNull, 1L).otherwise(0L).as("in_sketch"))
        .orderBy(col("tok"))
    },

    "t20_charset_audit" -> { (s, dir) =>
      // ENCODING-SANITY audit — the ingest gate every web-scale corpus
      // runs before any tokenization: per source, how much of the text
      // is multibyte (UTF-8 bytes vs codepoints — zh/de/fr content is
      // SUPPOSED to be multibyte, an all-ASCII "zh" shard means the
      // decoder upstream lost it), how many U+FFFD replacement chars
      // survived decoding (each one is a byte sequence some transcoder
      // destroyed), and how many U+00C2/U+00C3 marks appear (the
      // classic UTF-8-read-as-Latin-1 mojibake signature: 'Ã©' where
      // 'é' belongs). Occurrence counts are exact via the
      // length-minus-replace trick — no regex, so both engines count
      // identically on any input. Scale: one codegen'd projection over
      // the scan + one bounded per-source aggregate; zero shuffles
      // before the ≤|sources| groupBy.
      val repl = "�"; val m1 = "Ã"; val m2 = "Â"
      def occ(ch: String) =
        (length(col("text")) -
          length(expr(s"replace(text, '$ch', '')"))).cast("long")
      Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
        .select(col("source"),
          length(col("text")).cast("long").as("chars"),
          expr("octet_length(text)").cast("long").as("bytes"),
          occ(repl).as("n_repl"), (occ(m1) + occ(m2)).as("n_moji"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bytes") > col("chars"), 1L).otherwise(0L))
            .as("n_multibyte_docs"),
          sum(col("chars")).as("total_chars"),
          sum(col("bytes")).as("total_bytes"),
          sum(col("n_repl")).as("n_replacement"),
          sum(col("n_moji")).as("n_mojibake_marks"))
        .orderBy(col("source"))
    },

    "t21_countmin_sketch" -> { (s, dir) =>
      // COUNT-MIN sketch frequency estimation (Cormode & Muthukrishnan
      // 2005) — the third mergeable sketch after KLL (a19) and
      // Misra-Gries (t19), and the only one whose ESTIMATES grade
      // hash-exact: CMS counters are plain sums, so the d=3 × w=1024
      // matrix is identical under any partitioning/merge order (unlike
      // MG's merge-order-sensitive lower bounds, which t19 had to keep
      // off the graded row). The sketch is built as one explode into 3
      // (row, bucket) keys per token + a partial-aggregated groupBy
      // (state O(d·w), never O(vocabulary)); the probe takes the exact
      // heavy tokens (freq·100 > n — the t19 band widened) and reads
      // est = min_j cms[j][h_j(tok)] via three ≤1024-row broadcast
      // joins. The one-sided guarantee est ≥ freq is graded as data
      // (`overcounted` flags collisions — the audit that sizes w).
      // Bucket hashes derive from md5(tok#j), bit-identical across
      // engines (the d27 rule).
      val W = 1024
      def bucket(j: Int, c: Column): Column =
        conv(substring(md5(concat(c, lit(s"#$j")).cast("binary")), 1, 8),
          16, 10).cast("long") % W
      // Spread tried and REVERTED (round 17, measured): `toks` fans out
      // to three consumers whose single-task stages already run
      // CONCURRENTLY (AQE materializes them as independent stage jobs),
      // so a repartition spread oversubscribed 3×32 tasks on 32 cores
      // and measured +15-75% (1.74 → 3.05 s in-process). The 1-task
      // scans here are stage-parallel, unlike t18's single serial chain.
      val toks = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull) // NULL-text guard (see t04)
        .select(explode_outer(split(col("text"), " ")).as("tok"))
      val cms = toks
        .select(explode(array((0 until 3).map(j =>
          struct(lit(j.toLong).as("j"),
            bucket(j, col("tok")).as("b"))): _*)).as("jb"))
        .select(col("jb.j").as("j"), col("jb.b").as("b"))
        .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))
      val total = toks.agg(count(lit(1)).as("n"))
      val heavy = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .crossJoin(broadcast(total))
        .filter(col("freq") * 100 > col("n"))
      val probed = (0 until 3).foldLeft(heavy) { (df, j) =>
        df.withColumn(s"b$j", bucket(j, col("tok")))
          .join(broadcast(cms.filter(col("j") === j.toLong)
            .select(col("b").as(s"b$j"), col("c").as(s"c$j"))), Seq(s"b$j"))
      }
      probed.select(col("tok"), col("freq"),
          least(col("c0"), col("c1"), col("c2")).as("cms_est"),
          when(least(col("c0"), col("c1"), col("c2")) > col("freq"), 1L)
            .otherwise(0L).as("overcounted"))
        .orderBy(col("tok"))
    },

    "t22_quality_sweep" -> { (s, dir) =>
      // QUALITY-THRESHOLD survival curve — the tuning audit behind
      // every cutoff choice (t02 scores docs; t07 applies ONE fixed
      // threshold; this reports what EVERY threshold would keep): docs
      // bucket by an integer-basis-point quality score (t02's weights,
      // integer floor division throughout so bucket boundaries carry
      // no float edge), and each bucket reports its own mass plus the
      // CUMULATIVE docs/tokens that survive a cutoff at that bucket —
      // read the row where cum_tokens first clears the token budget
      // and that bucket IS the threshold. Scale: one projection + a
      // ≤11-group aggregate; the running sum is a window over ≤11
      // rows (a deliberate bounded global window, the d13 bucket-cut
      // rule — never a per-doc window).
      val scored = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_toks"),
          length(col("text")).cast("long").as("n_chars"),
          stopHits.as("n_stop"))
        .withColumn("score_bp",
          expr("(4000 * least(n_toks, 50)) div 50") +
          expr("(3000 * n_stop) div n_toks") +
          expr("(3000 * least(n_chars - n_toks + 1, 5 * n_toks))" +
            " div (5 * n_toks)"))
        .withColumn("bucket", expr("score_bp div 1000"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      scored.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        .withColumn("cum_docs", sum(col("n_docs")).over(w))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .orderBy(col("bucket").desc)
    },

    "t23_bm25_rank" -> { (s, dir) =>
      // BM25 RANKING (Robertson k1 = 1.2, b = 0.75) for a fixed
      // 3-term query — the lexical-retrieval scorer every RAG corpus
      // serves next to its ANN index (t08's TF-IDF is the
      // feature-extraction face; this is the QUERY-time ranker with
      // document-length normalization). Following t08's log-free
      // discipline, the Robertson idf drops its ln and keeps the
      // exact rational (N − df + ½)/(df + ½): with k1 = 6/5, b = 3/4
      // every per-term contribution reduces to the integer ratio
      //   (2N − 2df + 1)·tf·44·A  /  (2df + 1)·(20·A·tf + 6·A + 18·dl·N)
      // (A = corpus token count — avgdl = A/N cleared through both
      // sides), so each term costs ONE double division and the final
      // score is three doubles added in a FIXED literal order — both
      // engines produce identical bits. Per-doc tf comes from
      // size(filter(toks, …)): a codegen'd projection, no explode, no
      // shuffle before the 1-row stats aggregate. The int64 products
      // are exact to ~2^49 at graded SFs; at 100 TB corpus scale A
      // (~10^12) forces the production variant to the standard double
      // ln-idf — the ranking logic is what's graded here.
      val terms = Seq("data", "query", "spark")
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))
      val withTf = terms.foldLeft(docs) { (d, t) =>
        d.withColumn(s"tf_$t",
          expr(s"size(filter(toks, x -> x = '$t'))").cast("long"))
      }.drop("toks")
      val stats = withTf.agg(
        count(lit(1)).as("n"),
        sum(col("dl")).as("a") +:
          terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L))
            .as(s"df_$t")): _*)
      def contrib(t: String): Column =
        ((lit(2) * col("n") - lit(2) * col(s"df_$t") + 1) *
          col(s"tf_$t") * lit(44) * col("a")).cast("double") /
          ((lit(2) * col(s"df_$t") + 1) *
            (lit(20) * col("a") * col(s"tf_$t") + lit(6) * col("a") +
              lit(18) * col("dl") * col("n"))).cast("double")
      withTf.crossJoin(broadcast(stats))
        .withColumn("score",
          contrib("data") + contrib("query") + contrib("spark"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("dl"), col("tf_data"),
          col("tf_query"), col("tf_spark"), col("score"))
    },

    "t24_fertility" -> { (s, dir) =>
      // TOKENIZER FERTILITY audit — the per-language cost report every
      // multilingual training run needs before fixing a token budget:
      // subwords-per-word (how many BPE-ish pieces a whitespace word
      // shatters into) and bytes-per-subword (how much UTF-8 mass one
      // token buys — the metric that exposes byte-hungry scripts). The
      // subword grain reuses t03's regex tokenizer extended with a
      // catch-all single-codepoint class, so CJK text (no spaces)
      // degrades to ~1 subword per codepoint exactly as a byte-level
      // BPE would. All three counts are exact int64 sums; the two
      // ratios are ONE double division each — bit-identical across
      // engines. Shape: a codegen'd linear projection + one 5-group
      // aggregate; nothing but the final groupBy shuffles at 100 TB.
      Tables.load(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("lang"),
          size(split(col("text"), "\\s+")).cast("long").as("w"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .cast("long").as("sw"),
          octet_length(col("text")).cast("long").as("b"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("n_words"),
          sum(col("sw")).as("n_subwords"),
          sum(col("b")).as("n_bytes"))
        .withColumn("fertility",
          col("n_subwords").cast("double") / col("n_words").cast("double"))
        .withColumn("bytes_per_subword",
          col("n_bytes").cast("double") / col("n_subwords").cast("double"))
        .orderBy(col("lang"))
    },

    "t25_zipf_coverage" -> { (s, dir) =>
      // ZIPF HEAD-COVERAGE audit — the vocabulary-planning numbers a
      // tokenizer build reads before fixing a vocab size: per language,
      // how many word types exist, how heavy the head is (what share
      // of the running token stream the top-100 types alone cover —
      // Zipf says ~most of it; a flat curve means noisy or synthetic
      // text), how long the hapax tail is (types seen ONCE — merge
      // candidates that buy nothing), and the type/token ratio. All
      // counts are exact int64; the two ratios are one double division
      // each, off integer numerators (the t24 rule) — no aggregated
      // doubles anywhere. Scale: one explode into a (lang, token)
      // partial-aggregated count (the f-not-f² shape: f distinct types
      // cross the exchange, not f² token instances), then ONE
      // lang-keyed window ranks the vocabulary — vocab-sized
      // partitions, the natural distribution grain — and a 5-group
      // rollup; the corpus is scanned once.
      val vocab = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("tok"))
      vocab
        .withColumn("rnk", row_number().over(w))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("cnt")).as("n_tokens"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax_types"),
          sum(when(col("rnk") <= 100, col("cnt")).otherwise(0L))
            .as("top100_tokens"))
        .withColumn("coverage_top100",
          col("top100_tokens").cast("double") /
            col("n_tokens").cast("double"))
        .withColumn("type_token_ratio",
          col("n_types").cast("double") / col("n_tokens").cast("double"))
        .orderBy(col("lang"))
    },

    "t26_unigram_drift" -> { (s, dir) =>
      // SOURCE-DRIFT detection — per-source unigram distributions
      // compared to the corpus mixture over the corpus's top-100 head
      // tokens: the cheap distribution-shift monitor a pipeline runs
      // per crawl snapshot / per supplier before anything expensive
      // (a source whose head-token L1 distance jumps changed domain,
      // language mix, or got spam-injected — THE signal to quarantine
      // a feed). Distances are L1 in e9 FIXED-POINT integers (the d36
      // rule: per-token probabilities floor(cnt·10⁹/total) as int64,
      // summed as int64 — doubles summed across an unordered head
      // would hash-flake), so both engines produce identical bits;
      // head_mass additionally reports how much of each source the
      // head explains (low mass = the comparison is about the tail,
      // read with care). Scale: ONE corpus explode into a persisted
      // (source, tok) count (f·S rows, not token instances), the head
      // is a 100-row TakeOrdered broadcast, and the scoring grid is
      // head×sources = 2000 rows — nothing downstream of the first
      // aggregate sees corpus-sized data.
      val tokCounts = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val srcTot = tokCounts.groupBy(col("source"))
        .agg(sum(col("cnt")).as("stot"))
      val glob = tokCounts.groupBy(col("tok"))
        .agg(sum(col("cnt")).as("gcnt"))
      val gtot = glob.agg(sum(col("gcnt")).as("gtot"))
      val head = glob.orderBy(col("gcnt").desc, col("tok")).limit(100)
        .crossJoin(broadcast(gtot))
        .select(col("tok").as("htok"), col("gcnt"), col("gtot"))
      val tc = tokCounts.select(col("source").as("tsrc"),
        col("tok").as("ttok"), col("cnt"))
      val grid = srcTot.crossJoin(broadcast(head))
        .join(tc,
          col("source") === col("tsrc") && col("htok") === col("ttok"),
          "left_outer")
        .select(col("source"), col("stot"),
          expr("(coalesce(cnt, 0L) * 1000000000L) div stot").as("ps_e9"),
          expr("(gcnt * 1000000000L) div gtot").as("p_e9"))
      grid.groupBy(col("source"))
        .agg(max(col("stot")).as("n_tokens"),
          sum(col("ps_e9")).as("head_mass_e9"),
          sum(abs(col("ps_e9") - col("p_e9"))).as("l1_head_e9"))
        .orderBy(col("source"))
    },

    "t27_tokenizer_roundtrip" -> { (s, dir) =>
      // TOKENIZER ROUND-TRIP fidelity over the m-family BINARY corpus —
      // the lossless-encode audit a pipeline runs before committing a
      // tokenizer: payloads decode to text, a word-level tokenizer with
      // BYTE FALLBACK (top-100 corpus words are single tokens, every
      // OOV word shatters into its UTF-8 bytes — the GPT-2/SentencePiece
      // byte-fallback discipline that makes any byte sequence
      // encodable) tokenizes each document, and the DETOKENIZED text
      // must reproduce the original bytes exactly — n_roundtrip_exact
      // == n_docs is the graded invariant, pinned cross-engine rather
      // than assumed. Alongside it, the per-lang cost of that
      // losslessness: word-token vs byte-fallback-token mix and
      // fertility (tokens per byte, e9 fixed point in DECIMAL(38) —
      // the round-12 overflow rule; int64 would wrap at ~9·10⁹ tokens
      // per lang). Distinct from t24 (subword-regex fertility, no
      // round-trip claim): this grades ENCODE∘DECODE = id, the property
      // that makes a tokenizer safe for binary-adjacent corpora. Scale
      // shape: one projection + one posexplode, a 100-row broadcast
      // vocab, per-doc reassembly rides ONE doc_id shuffle (the d12
      // sorted-collect), then a bounded per-lang aggregate.
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          col("text").cast("binary").as("payload"))
        .select(col("doc_id"), col("lang"),
          col("payload").cast("string").as("txt"),
          octet_length(col("payload")).cast("long").as("nb"))
      // posexplode_outer: split() is provably non-empty (the CDC-dedup
      // inferred-filter lesson).
      val words = docs.select(col("doc_id"), col("lang"), col("txt"),
        col("nb"), posexplode_outer(split(col("txt"), " "))
          .as(Seq("pos", "w")))
      val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(100)
        .select(col("w").as("vw"))
      val tok = words
        .join(broadcast(vocab), col("w") === col("vw"), "left_outer")
        .withColumn("nt", when(col("vw").isNotNull, 1L)
          .otherwise(octet_length(col("w")).cast("long")))
        .withColumn("iw", when(col("vw").isNotNull, 1L).otherwise(0L))
      val perDoc = tok.groupBy(col("doc_id"), col("lang"))
        .agg(max(col("txt")).as("txt"), max(col("nb")).as("nb"),
          sum(col("nt")).as("n_tok"),
          sum(col("iw")).as("n_word_tok"),
          sum(when(col("iw") === 0L, col("nt")).otherwise(0L))
            .as("n_byte_tok"),
          array_join(transform(array_sort(collect_list(
            struct(col("pos"), col("w")))), x => x.getField("w")), " ")
            .as("recon"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_word_tok")).as("n_word_tokens"),
          sum(col("n_byte_tok")).as("n_byte_tokens"),
          sum(when(col("recon") === col("txt"), 1L).otherwise(0L))
            .as("n_roundtrip_exact"),
          sum(col("nb")).as("n_bytes"))
        .withColumn("fert_e9", expr(
          "CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000000" +
            " div n_bytes AS BIGINT)"))
        .orderBy(col("lang"))
    }
  )

  private val stopList = StopWords.map(w => s"'$w'").mkString(", ")

  def oracle: Map[String, String] = Map(
    "t23_bm25_rank" -> {
      val terms = Seq("data", "query", "spark")
      def contrib(t: String): String =
        s"""(CAST((2*n - 2*df_$t + 1) * tf_$t * 44 * a AS DOUBLE) /
           |   CAST((2*df_$t + 1) * (20*a*tf_$t + 6*a + 18*dl*n)
           |     AS DOUBLE))""".stripMargin
      s"""WITH d AS (
         | SELECT doc_id, string_split(text, ' ') AS toks
         | FROM documents WHERE text IS NOT NULL),
         |dd AS (
         | SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         |  ${terms.map(t =>
             s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$t")
            .mkString(",\n  ")}
         | FROM d),
         |st AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(dl) AS BIGINT) AS a,
         |  ${terms.map(t =>
             s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
            .mkString(",\n  ")}
         | FROM dd)
         |SELECT doc_id, dl, tf_data, tf_query, tf_spark,
         | (${contrib("data")} + ${contrib("query")} +
          ${contrib("spark")}) AS score
         |FROM dd CROSS JOIN st
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    "t24_fertility" ->
      """WITH d AS (
        | SELECT lang,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS w,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS sw,
        |  CAST(strlen(text) AS BIGINT) AS b
        | FROM documents WHERE text IS NOT NULL),
        |ag AS (
        | SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS n_words,
        |  CAST(SUM(sw) AS BIGINT) AS n_subwords,
        |  CAST(SUM(b) AS BIGINT) AS n_bytes
        | FROM d GROUP BY lang)
        |SELECT lang, n_docs, n_words, n_subwords, n_bytes,
        | CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE)
        |   AS fertility,
        | CAST(n_bytes AS DOUBLE) / CAST(n_subwords AS DOUBLE)
        |   AS bytes_per_subword
        |FROM ag ORDER BY lang""".stripMargin,

    // Same vocab grain (space split), same (cnt DESC, tok) rank order.
    "t25_zipf_coverage" ->
      """WITH v AS (
        | SELECT lang, unnest(string_split(text, ' ')) AS tok
        | FROM documents WHERE text IS NOT NULL),
        |vocab AS (
        | SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        | FROM v GROUP BY lang, tok),
        |ranked AS (
        | SELECT lang, cnt,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, tok) AS rnk
        | FROM vocab),
        |ag AS (
        | SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hapax_types,
        |  CAST(SUM(CASE WHEN rnk <= 100 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS top100_tokens
        | FROM ranked GROUP BY lang)
        |SELECT lang, n_types, n_tokens, hapax_types, top100_tokens,
        | CAST(top100_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |   AS coverage_top100,
        | CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |   AS type_token_ratio
        |FROM ag ORDER BY lang""".stripMargin,

    // Same space-split vocab grain as t25; head = corpus top-100 by
    // (gcnt DESC, tok). All probabilities are e9 fixed-point integer
    // divisions (// in DuckDB == div in Spark for non-negative int64),
    // so both engines produce identical bits.
    "t26_unigram_drift" ->
      """WITH v AS (
        | SELECT source, unnest(string_split(text, ' ')) AS tok
        | FROM documents WHERE text IS NOT NULL),
        |tc AS (
        | SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        | FROM v GROUP BY source, tok),
        |st AS (
        | SELECT source, CAST(SUM(cnt) AS BIGINT) AS stot
        | FROM tc GROUP BY source),
        |gl AS (
        | SELECT tok, CAST(SUM(cnt) AS BIGINT) AS gcnt
        | FROM tc GROUP BY tok),
        |gt AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS gtot FROM gl),
        |head AS (
        | SELECT tok AS htok, gcnt, (SELECT gtot FROM gt) AS gtot
        | FROM gl ORDER BY gcnt DESC, tok LIMIT 100),
        |grid AS (
        | SELECT st.source, st.stot,
        |  (COALESCE(tc.cnt, 0) * 1000000000) // st.stot AS ps_e9,
        |  (head.gcnt * 1000000000) // head.gtot AS p_e9
        | FROM st CROSS JOIN head
        | LEFT JOIN tc
        |  ON tc.source = st.source AND tc.tok = head.htok)
        |SELECT source, CAST(MAX(stot) AS BIGINT) AS n_tokens,
        | CAST(SUM(ps_e9) AS BIGINT) AS head_mass_e9,
        | CAST(SUM(ABS(ps_e9 - p_e9)) AS BIGINT) AS l1_head_e9
        |FROM grid GROUP BY source ORDER BY source""".stripMargin,

    // t27: word tokenizer with byte fallback (top-100 vocab by
    // (cnt DESC, w)), detokenization via ORDER BY pos string_agg == the
    // engine's sorted-collect reassembly; fertility's x1e9 step in
    // HUGEINT == Spark's DECIMAL(38).
    "t27_tokenizer_roundtrip" ->
      """WITH d AS (
        | SELECT doc_id, lang, text AS txt,
        |  CAST(strlen(text) AS BIGINT) AS nb
        | FROM documents WHERE text IS NOT NULL),
        |w AS (
        | SELECT doc_id, lang, txt, nb,
        |  unnest(string_split(txt, ' ')) AS w,
        |  generate_subscripts(string_split(txt, ' '), 1) AS pos
        | FROM d),
        |vocab AS (
        | SELECT w AS vw FROM (
        |  SELECT w, COUNT(*) AS cnt FROM w GROUP BY w
        |  ORDER BY cnt DESC, w LIMIT 100) t),
        |t AS (
        | SELECT doc_id, lang, txt, nb, pos, w.w,
        |  CASE WHEN v.vw IS NOT NULL THEN 1
        |   ELSE strlen(w.w) END AS nt,
        |  CASE WHEN v.vw IS NOT NULL THEN 1 ELSE 0 END AS iw
        | FROM w LEFT JOIN vocab v ON w.w = v.vw),
        |pd AS (
        | SELECT doc_id, lang, MAX(txt) AS txt, MAX(nb) AS nb,
        |  CAST(SUM(nt) AS BIGINT) AS n_tok,
        |  CAST(SUM(iw) AS BIGINT) AS n_word_tok,
        |  CAST(SUM(CASE WHEN iw = 0 THEN nt ELSE 0 END) AS BIGINT)
        |    AS n_byte_tok,
        |  string_agg(w, ' ' ORDER BY pos) AS recon
        | FROM t GROUP BY doc_id, lang)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        | CAST(SUM(n_word_tok) AS BIGINT) AS n_word_tokens,
        | CAST(SUM(n_byte_tok) AS BIGINT) AS n_byte_tokens,
        | CAST(SUM(CASE WHEN recon = txt THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_roundtrip_exact,
        | CAST(SUM(nb) AS BIGINT) AS n_bytes,
        | CAST((CAST(SUM(n_tok) AS HUGEINT) * 1000000000)
        |   // CAST(SUM(nb) AS BIGINT) AS BIGINT) AS fert_e9
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,

    // chr(65533) = U+FFFD, chr(195)/chr(194) = the mojibake marks;
    // length() counts codepoints and strlen() UTF-8 bytes in DuckDB,
    // matching Spark's length/octet_length on any valid UTF-8.
    "t20_charset_audit" ->
      """WITH d AS (
        | SELECT source, length(text) AS chars, strlen(text) AS bytes,
        |  length(text) - length(replace(text, chr(65533), ''))
        |    AS n_repl,
        |  (length(text) - length(replace(text, chr(195), ''))) +
        |  (length(text) - length(replace(text, chr(194), '')))
        |    AS n_moji
        | FROM documents WHERE text IS NOT NULL)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN bytes > chars THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_multibyte_docs,
        | CAST(SUM(chars) AS BIGINT) AS total_chars,
        | CAST(SUM(bytes) AS BIGINT) AS total_bytes,
        | CAST(SUM(n_repl) AS BIGINT) AS n_replacement,
        | CAST(SUM(n_moji) AS BIGINT) AS n_mojibake_marks
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "t21_countmin_sketch" -> {
      def bk(e: String, j: String): String =
        s"(('0x' || substr(md5($e || '#' || $j), 1, 8))::BIGINT % 1024)"
      s"""WITH toks AS (
         | SELECT unnest(string_split(text, ' ')) AS tok
         | FROM documents WHERE text IS NOT NULL),
         |n AS (SELECT COUNT(*) AS n FROM toks),
         |ex AS (
         | SELECT js.j, ${bk("tok", "js.j")} AS b
         | FROM toks CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) js),
         |cms AS (SELECT j, b, COUNT(*) AS c FROM ex GROUP BY j, b),
         |heavy AS (
         | SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok
         | HAVING COUNT(*) * 100 > (SELECT n FROM n)),
         |probe AS (
         | SELECT h.tok, h.freq, least(c0.c, c1.c, c2.c) AS cms_est
         | FROM heavy h
         |  JOIN cms c0 ON c0.j = 0 AND c0.b = ${bk("h.tok", "0")}
         |  JOIN cms c1 ON c1.j = 1 AND c1.b = ${bk("h.tok", "1")}
         |  JOIN cms c2 ON c2.j = 2 AND c2.b = ${bk("h.tok", "2")})
         |SELECT tok, CAST(freq AS BIGINT) AS freq,
         | CAST(cms_est AS BIGINT) AS cms_est,
         | CAST(CASE WHEN cms_est > freq THEN 1 ELSE 0 END AS BIGINT)
         |   AS overcounted
         |FROM probe ORDER BY tok""".stripMargin
    },

    "t22_quality_sweep" ->
      s"""WITH d AS (
         | SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN ($stopList))) AS BIGINT) AS n_stop
         | FROM documents WHERE text IS NOT NULL),
         |sc AS (
         | SELECT doc_id, n_toks,
         |  (4000 * least(n_toks, 50)) // 50 +
         |  (3000 * n_stop) // n_toks +
         |  (3000 * least(n_chars - n_toks + 1, 5 * n_toks))
         |    // (5 * n_toks) AS score_bp
         | FROM d),
         |b AS (
         | SELECT score_bp // 1000 AS bucket, COUNT(*) AS n_docs,
         |  SUM(n_toks) AS n_tokens
         | FROM sc GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n_docs,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(SUM(n_docs) OVER win AS BIGINT) AS cum_docs,
         | CAST(SUM(n_tokens) OVER win AS BIGINT) AS cum_tokens
         |FROM b
         |WINDOW win AS (ORDER BY bucket DESC
         | ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY bucket DESC""".stripMargin,

    "t17_sequence_packing" ->
      """WITH base AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        | FROM documents WHERE text IS NOT NULL),
        |cum AS (
        | SELECT doc_id, n_toks,
        |  COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cum_before
        | FROM base),
        |assigned AS (
        | SELECT doc_id, n_toks, cum_before,
        |  CAST(cum_before // 512 AS BIGINT) AS seq_id,
        |  CAST(GREATEST(cum_before + n_toks
        |    - (cum_before // 512 + 1) * 512, 0) AS BIGINT) AS spill
        | FROM cum)
        |SELECT seq_id, COUNT(*) AS n_docs,
        | CAST(SUM(n_toks) AS BIGINT) AS doc_toks,
        | MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        | CAST(SUM(spill) AS BIGINT) AS spill_toks
        |FROM assigned GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    "t18_bigram_typicality" ->
      """WITH nd AS (
        | SELECT doc_id,
        |  regexp_replace(lower(text), '[^a-z ]', '', 'g') AS nt
        | FROM documents WHERE text IS NOT NULL),
        |bg AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(1, length(nt)),
        |    i -> nt[i:i+1])) AS b
        | FROM nd),
        |per_doc AS (
        | SELECT doc_id, b, COUNT(*) AS c_doc FROM bg GROUP BY doc_id, b),
        |model AS (
        | SELECT b, CAST(SUM(c_doc) AS BIGINT) AS cnt
        | FROM per_doc GROUP BY b)
        |SELECT p.doc_id,
        | CAST(SUM(p.c_doc) AS BIGINT) AS n_bg,
        | COUNT(*) AS n_distinct_bg,
        | CAST(SUM(CASE WHEN m.cnt = p.c_doc THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_own_only,
        | CAST(SUM(p.c_doc * m.cnt) AS BIGINT) AS typ_mass,
        | CAST(CAST(SUM(p.c_doc * m.cnt) AS BIGINT) AS DOUBLE)
        |  / CAST(CAST(SUM(p.c_doc) AS BIGINT) AS DOUBLE) AS typicality
        |FROM per_doc p JOIN model m ON p.b = m.b
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,

    // in_sketch = 1 is the Misra-Gries presence GUARANTEE for tokens
    // with freq > n/50 — the oracle asserts the invariant the Spark
    // side must earn from the live sketch (see the t19 design note).
    "t19_heavy_tokens" ->
      """WITH toks AS (
        | SELECT unnest(string_split(text, ' ')) AS tok
        | FROM documents WHERE text IS NOT NULL),
        |total AS (SELECT COUNT(*) AS n FROM toks)
        |SELECT tok, COUNT(*) AS freq,
        | CAST(1 AS BIGINT) AS in_sketch
        |FROM toks CROSS JOIN total
        |GROUP BY tok, n HAVING COUNT(*) * 50 > n
        |ORDER BY tok""".stripMargin,
    "t01_lang_stats" ->
      s"""WITH d AS (
         | SELECT lang, len(string_split(text,' ')) AS n_toks,
         |  len(list_filter(string_split(text,' '), t -> t IN ($stopList))) AS n_stop
         | FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         | CAST(SUM(n_toks) AS BIGINT) AS total_toks,
         | CAST(SUM(n_stop) AS DOUBLE) / SUM(n_toks) AS stop_ratio
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "t02_quality_score" ->
      s"""WITH d AS (
         | SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(list_filter(string_split(text,' '), t -> t IN ($stopList))) AS BIGINT) AS n_stop
         | FROM documents WHERE doc_id < 200),
         |e AS (
         | SELECT doc_id, n_toks, n_chars,
         |  CAST(n_chars - n_toks + 1 AS DOUBLE) / n_toks AS avg_tok_len,
         |  CAST(n_stop AS DOUBLE) / n_toks AS stop_ratio
         | FROM d)
         |SELECT doc_id, n_toks, n_chars, avg_tok_len, stop_ratio,
         | 0.4 * least(CAST(n_toks AS DOUBLE) / 50.0, 1.0) +
         | 0.3 * stop_ratio +
         | 0.3 * least(avg_tok_len / 5.0, 1.0) AS quality
         |FROM e ORDER BY doc_id""".stripMargin,

    "t03_token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_ws,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_re,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "t05_lang_predict" ->
      s"""WITH d AS (
         | SELECT lang, doc_id,
         |  CAST(len(list_filter(string_split(text,' '), t -> t IN ($stopList))) AS DOUBLE)
         |    / len(string_split(text,' ')) AS en_score
         | FROM documents)
         |SELECT lang,
         | CASE WHEN en_score >= 0.08 THEN 'en' ELSE 'other' END AS predicted,
         | COUNT(*) AS n
         |FROM d GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,

    "t04_fingerprint" ->
      """WITH ex AS (
        | SELECT doc_id,
        |  generate_subscripts(string_split(text,' '), 1) AS pos1,
        |  (('0x' || substr(md5(unnest(string_split(text,' '))),1,15))::BIGINT % 1000003) AS h
        | FROM documents)
        |SELECT doc_id, CAST(SUM(pos1 * h) % 1000003 AS BIGINT) AS fingerprint
        |FROM ex GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t06_chunking" ->
      """WITH d AS (
        | SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |c AS (
        | SELECT doc_id, tk,
        |  unnest(range(0, greatest(len(tk) - 1, 0) + 1, 40)) AS chunk_start
        | FROM d)
        |SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
        | CAST(least(50, len(tk) - chunk_start) AS BIGINT) AS n_chunk_toks,
        | md5(array_to_string(list_slice(tk, chunk_start + 1, chunk_start + 50), ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_start""".stripMargin,

    "t08_tfidf_terms" ->
      """WITH ex AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term
        | FROM documents WHERE doc_id < 100),
        |tf AS (
        | SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
        |df AS (
        | SELECT term, COUNT(*) AS df
        | FROM (SELECT DISTINCT doc_id, term FROM ex) GROUP BY term),
        |scored AS (
        | SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  CAST(tf.tf AS DOUBLE) * 100 / df.df AS score
        | FROM tf JOIN df USING (term)),
        |ranked AS (
        | SELECT doc_id, term, tf, df, score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS BIGINT) AS rnk
        | FROM scored)
        |SELECT doc_id, rnk, term, CAST(tf AS BIGINT) AS tf,
        | CAST(df AS BIGINT) AS df, score
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "t07_filter_pipeline" ->
      s"""WITH d AS (
         | SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(list_filter(string_split(text,' '), t -> t IN ($stopList))) AS BIGINT) AS n_stop
         | FROM documents),
         |e AS (
         | SELECT doc_id, n_toks, n_distinct,
         |  0.4 * least(CAST(n_toks AS DOUBLE) / 50.0, 1.0) +
         |  0.3 * (CAST(n_stop AS DOUBLE) / n_toks) +
         |  0.3 * least((CAST(n_chars - n_toks + 1 AS DOUBLE) / n_toks) / 5.0, 1.0) AS quality
         | FROM d),
         |r AS (
         | SELECT doc_id, n_toks,
         |  CASE WHEN n_toks < 10 THEN 'too_short'
         |       WHEN n_distinct * 10 < n_toks * 3 THEN 'repetitive'
         |       WHEN quality < 0.5 THEN 'low_quality'
         |       ELSE 'kept' END AS reason
         | FROM e)
         |SELECT doc_id, n_toks, reason,
         | CAST(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    "t09_repetition_filter" ->
      """WITH d AS (
        | SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        | WHERE doc_id < 200),
        |g AS (
        | SELECT doc_id, tk,
        |  list_transform(range(0, greatest(len(tk) - 3, 0) + 1),
        |   i -> array_to_string(list_slice(tk, i + 1, i + 3), ' ')) AS g3
        | FROM d),
        |f AS (
        | SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_toks,
        |  1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS dup_tok_frac,
        |  1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup_3gram_frac
        | FROM g)
        |SELECT doc_id, n_toks, dup_tok_frac, dup_3gram_frac,
        | CAST(CASE WHEN dup_tok_frac <= 0.7 AND dup_3gram_frac <= 0.2
        |      THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "t10_pii_redaction" ->
      s"""WITH raw AS (
         | SELECT doc_id,
         |  text || repeat(
         |   ' contact ' || source || '_' || CAST(doc_id AS VARCHAR) ||
         |   '@example.com tel 555-' ||
         |   lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         |   lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0') ||
         |   ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
         |   CAST((doc_id // 256) % 256 AS VARCHAR) || '.7',
         |   CAST(doc_id % 3 + 1 AS INT)) AS raw
         | FROM documents WHERE doc_id < 200)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phones,
         | CAST(len(regexp_extract_all(raw, '$Ipv4Re')) AS BIGINT) AS n_ips,
         | regexp_replace(regexp_replace(regexp_replace(raw,
         |  '$EmailRe', '[EMAIL]', 'g'), '$Ipv4Re', '[IP]', 'g'),
         |  '$PhoneRe', '[PHONE]', 'g') AS clean_text
         |FROM raw ORDER BY doc_id""".stripMargin,

    "t11_vocab_profile" ->
      """WITH ex AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |dfreq AS (
        | SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        | FROM ex GROUP BY tok)
        |SELECT ex.doc_id,
        | COUNT(*) AS n_toks,
        | CAST(COUNT(DISTINCT ex.tok) AS BIGINT) AS n_distinct,
        | CAST(MIN(df) AS BIGINT) AS min_df,
        | CAST(SUM(df) AS BIGINT) AS df_mass,
        | CAST(SUM(df) AS DOUBLE) / COUNT(*) AS avg_df
        |FROM ex JOIN dfreq ON ex.tok = dfreq.tok
        |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin,

    "t12_bpe_pairs" ->
      """WITH tk AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ex AS (
        | SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i
        | FROM tk),
        |p AS (
        | SELECT tok AS a,
        |  lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS b
        | FROM ex)
        |SELECT a || ' ' || b AS pair, COUNT(*) AS n
        |FROM p WHERE b IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "t13_shard_drift" ->
      """WITH ex AS (
        | SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ep1'), 1, 15))::BIGINT
        |    % 2 AS half,
        |  unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |counts AS (
        | SELECT tok,
        |  CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |  CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        | FROM ex GROUP BY tok),
        |totals AS (
        | SELECT CAST(SUM(c0) AS BIGINT) AS n0,
        |  CAST(SUM(c1) AS BIGINT) AS n1 FROM counts)
        |SELECT tok, c0, c1,
        | CAST(abs(c0 * n1 - c1 * n0) AS BIGINT) AS drift
        |FROM counts, totals
        |ORDER BY drift DESC, tok LIMIT 20""".stripMargin,

    "t16_stopword_discovery" ->
      """WITH ex AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |stats AS (
        | SELECT tok, COUNT(DISTINCT doc_id) AS n_docs,
        |  COUNT(*) AS n_occur
        | FROM ex GROUP BY tok),
        |total AS (SELECT COUNT(*) AS total_docs FROM documents)
        |SELECT tok, n_docs, n_occur,
        | CAST(n_docs AS DOUBLE) / total_docs AS df_share
        |FROM stats, total
        |WHERE CAST(n_docs AS DOUBLE) / total_docs > 0.05
        |ORDER BY n_docs DESC, tok""".stripMargin,

    "t15_zipf_profile" ->
      """WITH counts AS (
        | SELECT tok, COUNT(*) AS n
        | FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |       FROM documents)
        | GROUP BY tok ORDER BY n DESC, tok LIMIT 50)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
        |   AS rank,
        | tok, n,
        | CAST(row_number() OVER (ORDER BY n DESC, tok) * n AS BIGINT)
        |   AS zipf_rn
        |FROM counts ORDER BY rank""".stripMargin
  )
}
