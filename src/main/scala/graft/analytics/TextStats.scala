package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents

/** Text-analysis operators for large-scale training-data pipelines, over the
  * `documents` table. All pure column expressions (codegen'd, no UDFs, no
  * shuffle except where aggregation is inherent) so they stream over 100 TB
  * as a narrow map stage fused into the scan.
  */
object TextStats {

  /** Character 5-gram shingles of a string column (distinct). Shared by
    * fingerprinting and the set-similarity dedup family. */
  def shingles(c: Column, n: Int = 5): Column =
    array_distinct(
      when(length(c) >= n,
        transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n))))
        .otherwise(array(c)))

  /** THE engine-wide word tokenization: maximal runs of non-whitespace
    * characters (`\S+`). One definition shared by every token-consuming
    * operator, the shingle kernels (Sketches.wsTokens), and the DuckDB
    * oracles (`regexp_extract_all(text, '\S+')` — the `\s` class is
    * identical in Java regex and RE2), so token counts and n-grams agree
    * across engines on arbitrary whitespace: leading/trailing, tabs,
    * newlines, repeated separators. Empty/blank text = ZERO tokens.
    * `split(trim(c), "\\s+")` is deliberately NOT used: Spark's `trim`
    * strips only ASCII spaces, so a leading tab would fabricate an empty
    * first token. */
  def tokens(c: Column): Column = regexp_extract_all(c, lit("\\S+"), lit(0))

  /** Distinct word n-gram shingles (default trigram) — the standard document
    * shingling for near-dup detection: far more discriminative than char
    * n-grams on natural text, and the shingle space is diverse enough that
    * inverted-index document frequencies stay small (critical for the exact
    * similarity join's candidate generation at scale). Texts shorter than n
    * words fall back to the whole trimmed text. Backed by the codegen'd
    * single-pass kernel in graft.functions.Sketches. */
  def wordShingles(c: Column, n: Int = 3): Column =
    graft.functions.Sketches.wordShingles(c, n)

  /** q21: token counting — whitespace tokens plus a BPE-ish segmentation
    * (letter runs | single digits | single punctuation), the standard cheap
    * proxy for LLM token counts. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0))).cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** q22: document quality scoring from length / character-class / stopword
    * ratios — the usual pre-training quality gate features. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val t       = col("text")
    val len     = length(t)
    val nAlpha  = len - length(regexp_replace(t, "[A-Za-z]", ""))
    val nDigit  = len - length(regexp_replace(t, "[0-9]", ""))
    val nSpace  = len - length(regexp_replace(t, "\\s", ""))
    val nTokens = size(tokens(t))
    val nStop   = size(regexp_extract_all(lower(t), lit("\\b(the|a|of|and|in|to)\\b"), lit(0)))
    val alphaRatio = nAlpha.cast("double") / nullif(len, lit(0)).cast("double")
    val digitRatio = nDigit.cast("double") / nullif(len, lit(0)).cast("double")
    val stopRatio  = nStop.cast("double") / nullif(nTokens, lit(0)).cast("double")
    val meanTokLen = (len - nSpace).cast("double") / nullif(nTokens, lit(0)).cast("double")
    val score = least(lit(1.0), greatest(lit(0.0),
      lit(0.5) * alphaRatio + lit(0.3) * least(lit(1.0), stopRatio * 4) +
        lit(0.2) * least(lit(1.0), nTokens.cast("double") / 64.0) - digitRatio))
    documents(spark, dir).select(
      col("doc_id"),
      nTokens.cast("long").as("n_tokens"),
      round(alphaRatio, 4).as("alpha_ratio"),
      round(digitRatio, 4).as("digit_ratio"),
      round(stopRatio, 4).as("stop_ratio"),
      round(meanTokLen, 4).as("mean_tok_len"),
      round(score, 4).as("quality"))
  }

  /** q23: language identification by stopword-hit scoring — the classic
    * n-gram/stopword heuristic. Deterministic argmax with a fixed priority
    * order on ties. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = lower(col("text"))
    def hits(pat: String): Column =
      size(regexp_extract_all(t, lit("\\b(" + pat + ")\\b"), lit(0)))
    val sEn = hits("the|and|of|a|in|to|is")
    val sDe = hits("der|die|das|und|ist|nicht")
    val sEs = hits("el|la|los|las|es|y|que")
    val sFr = hits("le|les|des|et|est|que")
    val sZh = hits("de|shi|le|zhe|ge|wo")
    val best = greatest(sEn, sDe, sEs, sFr, sZh)
    val pred = when(best === 0, lit("und"))
      .when(sEn === best, lit("en"))
      .when(sDe === best, lit("de"))
      .when(sEs === best, lit("es"))
      .when(sFr === best, lit("fr"))
      .otherwise(lit("zh"))
    documents(spark, dir).select(
      col("doc_id"), sEn.cast("long").as("s_en"), sDe.cast("long").as("s_de"),
      sEs.cast("long").as("s_es"), sFr.cast("long").as("s_fr"),
      sZh.cast("long").as("s_zh"), pred.as("predicted_lang"), col("lang"))
  }

  /** q24: document fingerprinting — full-text digest plus a min-shingle
    * fingerprint (the 1-permutation MinHash: min over md5(5-gram)), portable
    * across engines because md5 is standardized. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    // min-shingle + distinct count fused into one codegen'd pass (see
    // Sketches.minShingleMd5Kernel) — value-identical to
    // array_min(transform(shingles, md5)) + size(shingles), ~4x cheaper.
    // Pre-kernel repartition: ~1k md5 digests per ROW dwarf the cost of
    // shuffling the text once, so compute parallelism must not be capped
    // by the source file layout (a single-row-group parquet file scans as
    // ONE task no matter the cluster size — true for any poorly-compacted
    // input, not just the local fixtures).
    documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("fp_md5"),
        graft.functions.Sketches.minShingleMd5(col("text"), 5).as("msf"))
      .select(col("doc_id"), col("fp_md5"),
        col("msf.fp_min_shingle").as("fp_min_shingle"),
        col("msf.n_shingles").as("n_shingles"))

  /** q58: per-language length-outlier detection and winsorization — docs
    * beyond their language's exact p99 length are flagged and clipped, the
    * standard pre-training length-cleaning step (a handful of pathological
    * documents otherwise dominate token budgets). Per-group stats via
    * groupBy + BROADCAST join back (NOT a window over `lang` — language is
    * low-cardinality, so a window would funnel the corpus into a few huge
    * partitions; the aggregate output is tiny and broadcasts). */
  def lengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val p = d.groupBy(col("lang")).agg(expr("percentile(n_chars, 0.99D)").as("p99"))
    d.join(broadcast(p), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (col("n_chars") > col("p99")).as("is_outlier"),
        round(least(col("n_chars").cast("double"), col("p99")), 4).as("n_chars_clipped"))
  }

  /** q59: per-language quality-score normalization — z-score of the q22
    * quality signal within each language, so one threshold filters all
    * languages fairly (raw quality distributions differ per language; a
    * global cut over-prunes low-resource languages). Same broadcast-back
    * shape as q58. */
  def qualityNormalized(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(spark, dir).select(col("doc_id"), col("quality"))
      .join(documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
    val stats = q.groupBy(col("lang"))
      .agg(avg(col("quality")).as("la"), stddev_samp(col("quality")).as("ls"))
    q.join(broadcast(stats), "lang")
      .select(col("doc_id"), col("lang"), col("quality"),
        round(col("la"), 4).as("lang_avg"),
        round((col("quality") - col("la")) / col("ls"), 4).as("quality_z"))
  }

  /** q60: per-document mean unigram log-probability under the corpus's own
    * unigram distribution — the cheap proxy for model-based perplexity
    * filtering (docs whose tokens are collectively improbable are boiler-
    * plate, encoding noise, or wrong-language). Same plan family as TF-IDF:
    * token explode → vocabulary aggregate → broadcast total → per-doc mean.
    * Fully deterministic given the corpus, so oracle-checkable — unlike a
    * real LM score, which is exactly what this column would hold if a model
    * were plugged in. */
  def unigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt").cast("double") / col("total"))), 4).as("avg_logprob"))
  }

  /** q76: per-document mean bigram log-probability under the corpus's own
    * bigram LM — the sharper perplexity-filter proxy over q60's unigram:
    * P(cur|prev) = count(prev cur) / count(prev ·) catches locally-fluent
    * but order-scrambled text that unigram statistics score identically.
    * Same plan family as q60/q55: non-distinct bigram explode (codegen'd
    * kernel — the HOF formulation is CodegenFallback), bigram and
    * prefix-context counts as partial+final hash aggregates (O(bigram
    * vocabulary)), broadcast-joined back, one per-doc aggregate. */
  def bigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val bigs = documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.Sketches.wordNgramsAll(col("text"), 2)).as("bg"))
    val bgCount = bigs.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val prevCount = bigs
      .groupBy(substring_index(col("bg"), " ", 1).as("prev")).agg(count(lit(1)).as("c1"))
    bigs.join(bgCount, "bg")
      .withColumn("prev", substring_index(col("bg"), " ", 1))
      .join(prevCount, "prev")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c2").cast("double") / col("c1"))), 4).as("avg_bigram_logprob"))
  }

  /** q156: collocation mining — corpus-level pointwise mutual information
    * over word bigrams: pmi(a,b) = ln( P(ab) / (P(a)·P(b)) ), the classic
    * measure of tokens that co-occur far above chance (named entities,
    * multiword terms, boilerplate phrases worth merging into one token).
    * Bigrams below `minCount` are noise-filtered before scoring (PMI's
    * known low-count bias); ranked on the ROUNDED score with (w1, w2)
    * tie-break so the top-k cut is engine-exact.
    *
    * Scale shape: two token scans (unigram + bigram counts, both partial
    * aggregated map-side), the two one-row totals broadcast, the unigram
    * table joined twice by key — no shuffle carries raw text, only count
    * tables, and the final top-k is a single bounded sort. */
  def collocationPmi(spark: SparkSession, dir: String,
      minCount: Long = 5, k: Int = 20): DataFrame = {
    val toks = documents(spark, dir).select(explode(tokens(col("text"))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tTot = toks.agg(count(lit(1)).cast("double").as("t"))
    val bigs = documents(spark, dir)
      .select(explode(graft.functions.Sketches.wordNgramsAll(col("text"), 2)).as("bg"))
    val bTot = bigs.agg(count(lit(1)).cast("double").as("b"))
    val bc = bigs.groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"), col("c_ab"))
    val ua = uni.select(col("w").as("w1"), col("c").as("c_a"))
    val ub = uni.select(col("w").as("w2"), col("c").as("c_b"))
    val wk = org.apache.spark.sql.expressions.Window
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
    bc.join(ua, "w1").join(ub, "w2")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(bTot))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log((col("c_ab") / col("b")) /
          ((col("c_a") / col("t")) * (col("c_b") / col("t")))), 4).as("pmi"))
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
  }

  /** q157: compressibility quality signal — per-document DEFLATE ratio
    * ([[graft.functions.Compress]]), the "too repetitive / too random"
    * pretraining filter, gated per row with two deterministic claims the
    * oracle can state: the ratio is in the sane (0, 1.2] band, and
    * doubling a document compresses strictly better than linearly (the
    * second copy back-references the first), which a broken kernel —
    * returning constants, hashing instead of compressing — cannot fake.
    * Zero-shuffle: both ratios fuse into the parquet scan. */
  def compressibility(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Compress.deflateRatio
    documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        deflateRatio(col("text")).as("r"),
        deflateRatio(concat(col("text"), col("text"))).as("r2"))
      .select(col("doc_id"), col("n_chars"),
        (col("r") > 0.0 && col("r") <= 1.2).as("ratio_ok"),
        (col("r2") <= col("r") * 0.9 + 0.05).as("double_ok"))
  }

  /** q65: intra-document repetition ratio — the C4/Gopher-style repetition
    * signal: 1 − (distinct word bigrams / total word bigrams). High values
    * mean the document loops on itself (boilerplate, template spam, decode
    * glitches) and should be dropped before training. Pure per-row column
    * expressions (total = tokens − 1; distinct via the codegen'd shingle
    * kernel) — zero shuffle, fused into the scan. */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame =
    repetitionRatioOn(documents(spark, dir))

  /** [[repetitionRatio]] over any (doc_id, text) frame — per-row expressions
    * only, so this runs unchanged on a STREAMING DataFrame (filter-at-ingest
    * is where a production pipeline applies it; StreamingSpec drives it over
    * a MemoryStream). */
  def repetitionRatioOn(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nToks = size(tokens(t))
    val nBigrams = (nToks - 1).cast("long")
    val nDistinct = size(wordShingles(t, 2)).cast("long")
    docs.select(
      col("doc_id"),
      nBigrams.as("n_bigrams"),
      nDistinct.as("n_distinct"),
      round(lit(1.0) - nDistinct.cast("double") / nBigrams.cast("double"), 4)
        .as("rep_ratio"))
  }

  /** q66: Gopher-style quality-filter ruleset — the standard hard pre-
    * training document gates (Rae et al. 2021 §A1.1 shape): token-count
    * bounds, mean-word-length bounds, a minimum stopword signal, and a
    * repetition cap, each emitted as an auditable boolean plus the combined
    * verdict. Thresholds follow the paper's intent scaled to this corpus.
    * Per-row only — the filter is a narrow map fused into the scan, so at
    * 100 TB it costs exactly one read of the corpus. */
  def gopherFilter(spark: SparkSession, dir: String): DataFrame =
    gopherFilterOn(documents(spark, dir))

  /** [[gopherFilter]] over any (doc_id, text) frame — pure per-row columns,
    * identical semantics on batch and streaming inputs (StreamingSpec). */
  def gopherFilterOn(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nToks = size(tokens(t))
    val meanWordLen =
      round(length(regexp_replace(t, "\\s", "")).cast("double") / nToks, 4)
    val nStop = size(regexp_extract_all(lower(t), lit("\\b(the|a|of|and|in|to)\\b"), lit(0)))
    val repRatio = round(lit(1.0) -
      size(wordShingles(t, 2)).cast("double") / (nToks - 1), 4)
    val okWords = nToks >= 50 && nToks <= 100000
    val okLen   = meanWordLen >= 3.0 && meanWordLen <= 10.0
    val okStop  = nStop >= 2
    val okRep   = repRatio <= 0.1
    docs.select(
      col("doc_id"),
      nToks.cast("long").as("n_words"),
      meanWordLen.as("mean_word_len"),
      nStop.cast("long").as("n_stopwords"),
      repRatio.as("rep_ratio"),
      okWords.as("ok_words"), okLen.as("ok_mean_len"),
      okStop.as("ok_stopwords"), okRep.as("ok_repetition"),
      (okWords && okLen && okStop && okRep).as("pass"))
  }

  /** q214: per-SLICE quality confidence — the dataset-card number that
    * separates "source B passes 80% of the Gopher gates" from "source B
    * passes 80% ± we have 9 documents": per source, the pass rate with its
    * Wilson 95% interval. At 100 TB slices are never uniform — small
    * sources need the interval, not the point estimate, before a mixture
    * decision acts on them. Plan: the q66 per-row gate fused into the
    * scan, one source-keyed aggregate, the interval arithmetic on the
    * |sources|-row result. Double discipline: both engines evaluate the
    * SAME literals (1.96, 3.8416 — parsed, never recomputed as 1.96² —
    * the q176 decimal-literal rule) in the same order, so the 4-dp edge
    * rounding sees bit-identical IEEE values. */
  def qualityConfidence(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    val g = gopherFilterOn(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("pass"))
    val agg = d.select(col("doc_id"), col("source"))
      .join(g, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
    val n = col("n_docs").cast("double")
    val phat = col("n_pass").cast("double") / n
    val denom = lit(1.0) + lit(3.8416) / n
    val center = phat + lit(3.8416) / (lit(2.0) * n)
    val margin = lit(1.96) *
      sqrt((phat * (lit(1.0) - phat) + lit(3.8416) / (lit(4.0) * n)) / n)
    agg.select(col("source"), col("n_docs"), col("n_pass"),
      expr("n_pass * 10000 div n_docs").as("pass_bp"),
      round((center - margin) / denom, 4).as("wilson_lo"),
      round((center + margin) / denom, 4).as("wilson_hi"))
  }

  /** q68: cross-document boilerplate n-gram fraction — word trigrams that
    * appear in ≥ 1% of the corpus's documents are boilerplate (headers,
    * navigation, license blurbs); each document reports what fraction of
    * its distinct trigrams are boilerplate. Plan: distinct-shingle explode
    * (narrow, codegen'd kernel) → per-trigram document frequency as a
    * partial+final hash aggregate (O(shingle vocabulary), not O(tokens)) →
    * the tiny ≥1% survivor set broadcasts back — the corpus itself never
    * re-shuffles. The integer form `df·100 ≥ n_docs` avoids float-threshold
    * edge disagreement between engines. */
  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    val grams = documents(spark, dir)
      .select(col("doc_id"), explode(wordShingles(col("text"), 3)).as("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val nd = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val boiler = dfreq.crossJoin(broadcast(nd))
      .filter(col("df") * 100 >= col("n_docs"))
      .select(col("g"), lit(true).as("is_boiler"))
    grams.join(broadcast(boiler), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_shingles"), 4))
  }

  /** q82: fixed-window document chunking with overlap — the context-window
    * splitter every RAG / pre-training pipeline runs before embedding or
    * packing: token windows of `window` tokens advancing by
    * `window − overlap`, so consecutive chunks share `overlap` tokens and
    * no token is orphaned at a boundary. The last chunk may be short;
    * documents shorter than one window produce exactly one chunk (empty
    * text ⇒ one empty chunk, so every document keeps ≥ 1 row for
    * provenance joins).
    *
    * Plan shape: tokenize (narrow, fused into the scan) → per-row chunk
    * count arithmetic → ONE Generate (explode of an int sequence) → slice +
    * join back to text. No shuffle at all — the operator is a flat map, so
    * at 100 TB it costs one corpus read and parallelism is row-granular.
    * Chunk ids and boundaries are pure integer arithmetic — engine-portable
    * and oracle-checked value-by-value. */
  def chunkDocuments(spark: SparkSession, dir: String,
      window: Int = 32, overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && overlap < window, "need 0 <= overlap < window")
    val stride = window - overlap
    documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        greatest(size(col("t")), lit(1)).as("n_tok"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          when(col("n_tok") <= window, lit(0))
            .otherwise(expr(s"cast((n_tok - $window + $stride - 1) div $stride as int)"))))
          .as("chunk_id"))
      .withColumn("ct", slice(col("t"), col("chunk_id") * stride + 1, lit(window)))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).cast("long").as("start_tok"),
        size(col("ct")).cast("long").as("chunk_len"),
        array_join(col("ct"), " ").as("chunk_text"))
  }

  /** q83: heavy hitters via a Count-Min sketch — the streaming-safe frequent-
    * items primitive (Cormode & Muthukrishnan 2005): `d` hash rows ×
    * `width` counters; an item's estimate is the MIN of its `d` counters,
    * so estimates never undercount and overcount only by colliding mass.
    *
    * Spark-first formulation: the sketch IS a tiny aggregate table —
    * explode each token into its `d` (row, bucket) cells (hash = first four
    * hex digits of md5("row:term"), mod width — the same engine-portable
    * digest family as Sampling.contentBucket, NOT Spark's murmur3, so
    * DuckDB reproduces it bit-for-bit) → ONE partial+final hash aggregate of
    * d·width ≤ few-thousand cells. The corpus never shuffles: the map side
    * pre-aggregates per cell, exactly how a distributed CMS merges (cell-
    * wise sum — the aggregate's associativity IS the sketch's mergeability).
    * The audit side joins the (broadcast) sketch back to the exact counts
    * and pins BOTH CMS guarantees per surviving term: `no_undercount`
    * (est ≥ exact, structural) and `overcount_bounded`
    * (est − exact ≤ 8·N/width — generous vs the e/width expectation, and
    * deterministic for a fixed corpus + hash family, hence gate-stable).
    * Output: terms whose estimate clears the φ = 1% support threshold. */
  def heavyHitters(spark: SparkSession, dir: String,
      d: Int = 4, width: Int = 512): DataFrame = {
    // first 4 hex DIGITS of the digest (not raw ascii codes — hex ascii
    // values cluster in two bands and would waste half the buckets) as a
    // uniform 16-bit value via ONE conv(hex, 16, 10) — the hex-digit
    // arithmetic form (4096·d1 + 256·d2 + 16·d3 + d4, what the DuckDB
    // oracle computes) is value-identical but evaluates the md5 four
    // times per cell. 65536 ≡ 0 (mod 512) keeps the mod unbiased.
    def cellOf(row: Column, term: Column): Column = {
      val h = md5(concat(row.cast("string"), lit(":"), term).cast("binary"))
      pmod(conv(substring(h, 1, 4), 16, 10).cast("long"), lit(width))
    }
    val toks = documents(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
    // Exact per-term counts FIRST (one tokenize pass, materialized once) —
    // the CMS counters then derive from the vocabulary-sized aggregate:
    // a cell's counter is by definition Σ occurrences of the terms hashing
    // into it, i.e. Σ n_exact over those terms. Value-identical to
    // counting exploded (r, b) cells per occurrence, but the corpus is
    // tokenized ONCE (not twice), the md5 evaluates d·|vocab| times
    // instead of d·N (N = token stream length), and the sketch aggregate
    // shuffles vocabulary-sized rows instead of stream-sized ones
    // (guide §2.3: aggregate before you shuffle).
    val exact = graft.functions.Materialize(
      toks.groupBy(col("term")).agg(count(lit(1)).as("n_exact")))
    val cells = exact
      .select(col("term"), col("n_exact"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .select(col("r"), cellOf(col("r"), col("term")).as("b"), col("n_exact"))
    val sketch = cells.groupBy(col("r"), col("b")).agg(sum(col("n_exact")).as("cnt"))
    // every CMS row's counters sum to the stream length N — read n_total
    // off row 0 of the (tiny) sketch instead of re-scanning the corpus
    val total = sketch.filter(col("r") === 0).agg(sum(col("cnt")).as("n_total"))
    exact
      .select(col("term"), col("n_exact"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("b", cellOf(col("r"), col("term")))
      .join(broadcast(sketch), Seq("r", "b"))
      .groupBy(col("term"), col("n_exact"))
      .agg(min(col("cnt")).as("n_est"))
      .crossJoin(broadcast(total))
      .filter(col("n_est") * 100 >= col("n_total"))
      .select(col("term"), col("n_exact"), col("n_est"),
        (col("n_est") >= col("n_exact")).as("no_undercount"),
        ((col("n_est") - col("n_exact")) * width <= col("n_total") * 8)
          .as("overcount_bounded"))
  }

  /** q55: per-document top-k keyword extraction by TF-IDF. Plan: explode
    * tokens (narrow) → per-(doc, term) tf and per-term df as partial+final
    * hash aggregates → broadcast the corpus-size scalar → per-doc top-k
    * window keyed on doc_id (high-cardinality key: parallelism scales with
    * the corpus). The df table is the only corpus-wide aggregate and is
    * O(vocabulary), not O(tokens). Ties (equal tf and df) break on the term
    * itself so output is deterministic and oracle-checkable.
    *
    * The df branch recomputes the token explode (visible as two Generate
    * nodes): deliberate — materializing the per-(doc, term) tf table to
    * share it costs O(corpus)-scale storage, while recomputing costs one
    * extra scan, and scans are the cheap resource at warehouse scale. The
    * planner's WindowGroupLimit applies the top-k bound BEFORE the window
    * sort on both the partial and final side. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ndocs = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(ndocs))
      // round BEFORE ranking: mathematically-tied scores computed via
      // different (tf, df) routes can differ by 1 ulp between engines,
      // which would flip oracle-vs-engine rank order; 4-dp ties instead
      // fall through to the deterministic term tiebreak in both
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rk").cast("int").as("rk"))
  }

  /** q120: phrase search through the inverted-index pattern — retrieval's
    * two-phase shape: the distinct (term, doc) posting pairs prune
    * candidates to documents containing ALL phrase terms (one aggregate
    * over the postings restricted to the phrase's terms — each a selective
    * index lookup, never a corpus scan per term), then the exact
    * token-boundary phrase verify runs ONLY on the candidates. At 100 TB
    * the verify — the expensive contains over full text — touches the
    * handful of docs that share the phrase vocabulary, not the corpus. */
  def phraseSearch(spark: SparkSession, dir: String,
      phrase: String = "stream table hash"): DataFrame = {
    val terms = phrase.trim.split("\\s+").toSeq
    val pairs = documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
    val cand = pairs.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("nt"))
      .filter(col("nt") === terms.length)
      .select(col("doc_id"))
    documents(spark, dir)
      .join(cand, Seq("doc_id"), "left_semi")
      .filter(concat(lit(" "), array_join(tokens(col("text")), " "), lit(" "))
        .contains(s" $phrase "))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** q121: Zipf fit of the term-frequency distribution — the vocabulary
    * health check (natural corpora fit ln(freq) ≈ a + s·ln(rank) with
    * s ≈ −1; template/boilerplate-heavy corpora flatten it): frequencies
    * aggregate to O(vocabulary), the top-N cut is a TakeOrdered (never a
    * full sort), and the regression runs via the built-in REGR_* aggregates
    * over the tiny ranked frame. The one global rank window is bounded at
    * `topN` rows by construction — documented small-frame exception. */
  def zipfFit(spark: SparkSession, dir: String, topN: Int = 500): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term").asc)
    val top = documents(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(topN)
      .withColumn("rank", row_number().over(w))
    top
      .select(log(col("cnt").cast("double")).as("lf"),
        log(col("rank").cast("double")).as("lr"))
      .agg(count(lit(1)).as("n_terms"),
        round(expr("regr_slope(lf, lr)"), 4).as("zipf_slope"),
        round(expr("regr_intercept(lf, lr)"), 4).as("zipf_intercept"),
        round(expr("regr_r2(lf, lr)"), 4).as("r2"))
  }

  /** q104: inverted-index build — term → document frequency + the first
    * `cap` postings (sorted doc_ids): the text-retrieval primitive behind
    * every keyword-search and data-exploration tool over a corpus. Plan:
    * distinct (term, doc_id) pairs (map-side partial distinct), then ONE
    * hash(term) aggregate where the capped posting list is a
    * [[graft.functions.BoundedMinK]] mergeable aggregate — per-term state
    * is ≤ cap ids on every map task and the reducer merges ≤cap-entry
    * partial buffers, so a stopword term that appears in every document
    * costs O(cap · map_partitions), never a single-task sort of its full
    * posting list (the former rank-window formulation was exactly that
    * power-law straggler). The df count stays exact over all rows (a real
    * index stores the full posting list in blocks; the capped list is
    * this view's first block). The min-df filter keeps the hapax tail out
    * of the output. */
  def invertedIndex(spark: SparkSession, dir: String,
      minDf: Int = 10, cap: Int = 20): DataFrame =
    documents(spark, dir)
      .select(explode(tokens(col("text"))).as("term"), col("doc_id"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        graft.functions.BoundedMinK.minK(col("doc_id"), cap).as("postings"))
      .filter(col("df") >= minDf)

  /** q169: unigram-surprisal quality score — the LM-perplexity-style
    * corpus filter (CCNet/Gopher score documents by a language model's
    * perplexity; the cheapest self-contained member of that family is the
    * corpus's own unigram model) made EXACT-INTEGER so an independent
    * engine restates every score: a token's surprisal is
    * floor(log₂(1/p(w))) = floor(log₂(N div c(w))) bits, computed as
    * `length(bin(N div c)) − 1` — pure integer/string ops, no FP log whose
    * last-ulp behavior could differ between engines — and a document's
    * score is the integer-micro mean over its tokens. High mean surprisal
    * = rare-token-heavy text (gibberish, codes, boilerplate IDs); low =
    * stopword soup. The real-pipeline use is the same band-pass cut as
    * perplexity filtering.
    *
    * Plan: one corpus-token shuffle builds the O(vocabulary) frequency
    * table; the one-row total broadcasts; the join back to the token list
    * keys on the word (high-cardinality equi-join, AQE-skew-splittable —
    * the q58 TF-IDF shape); one partial+final per-doc aggregate. Nothing
    * pairwise, nothing corpus-sized on the driver. */
  def surprisalScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("w"))
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("n_total"))
    toks.join(freq, "w")
      .crossJoin(broadcast(total))
      .withColumn("s_bits", (length(bin(expr("n_total div c"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(s_bits * 1000000L) div count(*)").as("surprisal_micro"))
  }

  /** q172: BIGRAM conditional surprisal — the next LM order up from q169:
    * a token's cost is floor(log₂(1/p(w₂|w₁))) where the conditional is
    * the corpus maximum-likelihood estimate c(w₁w₂)/c₁⁺(w₁), with c₁⁺ the
    * count of w₁ occurrences that HAVE a successor (bigram starts) — so
    * the ratio is always ≥ 1 and the same `length(bin(·)) − 1` integer
    * floor-log₂ applies. Low mean = predictable word-to-word transitions
    * (natural prose); high mean = shuffled or synthetic token salad that
    * unigram frequency (q169) scores as perfectly normal — the pair cuts
    * the two failure modes apart.
    *
    * Plan: bigrams expand IN-ROW from each doc's token array
    * (`arrays_zip` of the two slices — the BPE pairCounts shape, no
    * self-join, no positional shuffle); the bigram and start-count tables
    * are O(distinct bigrams) partial+final aggregates; the two join-backs
    * key on the bigram/start word. Docs with < 2 tokens have no bigrams
    * and are absent, matching the oracle. */
  /** q173: DSIR-style importance score — data selection with importance
    * resampling (Xie et al. 2023, arXiv:2302.03169): score each raw
    * document by how much more likely its tokens are under a TARGET
    * distribution than under the raw-corpus distribution, here with the
    * engine's own unigram models and the usual integer floor-log₂
    * discipline. The target corpus is the subset passing the Gopher-style
    * hard rule (alpha ratio ≥ 0.55 ∧ ≥ 5 tokens ∧ ≥ 1 stopword — the
    * q163 label rule, stated identically by the oracle), its unigram
    * model Laplace-smoothed so out-of-target tokens are scoreable:
    *
    *   s_raw(w)    = floor(log₂(N_raw div c_raw(w)))          (c_raw ≥ 1)
    *   s_target(w) = floor(log₂((N_t + V) div (c_t(w) + 1)))
    *   dsir_bits(w) = s_raw − s_target    (positive ⇒ target-like)
    *
    * and a document's score is the integer-micro mean over its tokens —
    * high scorers are what importance resampling keeps. Plan: two
    * O(vocabulary) count tables (raw + target) built in one token-shuffle
    * pass each, a 1-row totals broadcast, the q169-shape join-back, one
    * per-doc aggregate. */
  def dsirScore(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir).select(col("doc_id"), col("text"),
      regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("ws"))
    val isTarget =
      expr("""((length(text) - length(regexp_replace(text, '[A-Za-z]', ''))) * 1000000L)
             | div greatest(cast(length(text) as bigint), 1L) >= 550000L""".stripMargin) &&
        size(col("ws")) >= 5 &&
        size(regexp_extract_all(lower(col("text")),
          lit("\\b(the|a|of|and|in|to)\\b"), lit(0))) >= 1
    // The target flag lives in a FILTER over the doc-level frame, never in
    // a projection alongside the explode: attaching `tgt` to the token
    // rows lets the optimizer float the three whole-text regexes above the
    // Generate, re-evaluating them once PER TOKEN (~100x the needed regex
    // work — measured 7.8 s vs <1 s at sf0.1). Filtering the target slice
    // first keeps every regex per-document and costs only one extra
    // O(vocabulary) aggregate + a vocab-keyed left join.
    val toks = base.select(col("doc_id"), explode(col("ws")).as("w"))
    val tgtToks = base.filter(isTarget).select(explode(col("ws")).as("w"))
    val cr = toks.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val ct = tgtToks.groupBy(col("w")).agg(count(lit(1)).as("ct0"))
    val fr = cr.join(ct, Seq("w"), "left")
      .select(col("w"), col("cr"), coalesce(col("ct0"), lit(0L)).as("ct"))
    val totals = fr.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
      count(lit(1)).as("v"))
    toks.join(fr, "w").crossJoin(broadcast(totals))
      .withColumn("s_raw", (length(bin(expr("nr div cr"))) - 1).cast("long"))
      .withColumn("s_tgt", (length(bin(expr("(nt + v) div (ct + 1)"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum((s_raw - s_tgt) * 1000000L) div count(*)").as("dsir_micro"))
  }

  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val bi = documents(spark, dir)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("ws"))
      .filter(size(col("ws")) >= 2)
      .withColumn("p", explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))))
      .select(col("doc_id"), col("p.0").as("w1"), col("p.1").as("w2"))
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1  = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bi.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("s_bits", (length(bin(expr("c1 div c12"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(s_bits * 1000000L) div count(*)").as("bigram_surprisal_micro"))
  }

  /** The fixed keyword workload for the ranked-retrieval gates (q176/q177):
    * three multi-term queries over the corpus vocabulary. A real service
    * takes these as input; a gated query needs them pinned. */
  val RetrievalQueries: Seq[(Int, String)] = Seq(
    (0, "stream table hash"),
    (1, "customer order join"),
    (2, "window batch spark"))

  /** q176: BM25 ranked keyword retrieval — the full-text-search scorer the
    * inverted-index (q104) and phrase-search (q120) primitives exist to
    * serve, and the lexical half of modern hybrid (keyword + vector) RAG
    * retrieval. Okapi BM25 with Lucene's non-negative idf:
    * score(q,d) = Σ_{t∈q∩d} ln(1 + (N−df+0.5)/(df+0.5)) ·
    * tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), k1=1.2, b=0.75.
    *
    * Plan: the query-term list is a broadcast literal, so per-term tf is
    * computed ONLY for postings that match a query term — the corpus-wide
    * work is one token scan for tf and one O(docs) length aggregate; df
    * aggregates over the already-restricted postings (O(matched docs), and
    * equals the full-corpus df because tf kept every posting of those
    * terms). The per-query top-k is a window keyed on query_id with the
    * WindowGroupLimit pushdown bounding state at k. At 100 TB the doc-length
    * table is the one corpus-sized join input, and it joins on doc_id —
    * co-partitioned with tf's grouping, no extra shuffle family.
    *
    * Determinism: BM25 constants appear as the SAME decimal literals on
    * both engines (2.2 is NOT written k1+1: 1.2+1 in double arithmetic
    * lands a half-ulp from the parsed literal 2.2 — round-trip through
    * decimal text is the only safe channel); the score rounds to 4 dp
    * BEFORE ranking with doc_id breaking residual ties. */
  def bm25TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val qterms = RetrievalQueries
      .flatMap { case (qid, s) => s.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    bm25On(documents(spark, dir), qterms, k)
  }

  /** Core BM25 over explicit frames (unit-testable with planted corpora).
    * docs: (doc_id, text); qterms: (query_id, term). */
  def bm25On(docs: DataFrame, qterms: DataFrame, k: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks
      .join(broadcast(qterms.select(col("term")).distinct()), "term")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms), "term")
      .withColumn("contrib",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"), round(sum(col("contrib")), 4).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("n_hit_terms"),
        col("score"), col("rn").cast("int").as("rn"))
  }

  /** q177: hybrid retrieval by reciprocal-rank fusion — the modern RAG
    * retrieval shape: a lexical leg (q176's BM25 over the keyword queries)
    * and a semantic leg (exact cosine against a query-by-example vector,
    * q28's shape: query i's example is embedding vec_id=i, self excluded)
    * each produce a top-n ranking, fused by RRF(d) = Σ_leg 1/(c + rank_leg)
    * with c=60 (Cormack et al.'s constant) and a missing leg contributing 0.
    * RRF needs only RANKS — no score calibration between BM25's unbounded
    * scale and cosine's [−1,1] — which is why it's the default fusion in
    * production hybrid search.
    *
    * Scale: each leg bounds itself to n rows per query BEFORE fusion, so
    * the full-outer fusion join and the final re-rank window run on
    * O(|queries|·n) rows regardless of corpus size — the corpus-scale work
    * is entirely inside the two legs, each already scale-shaped (BM25:
    * postings-restricted; cosine: broadcast-query scan, or the IVF index at
    * true scale). Determinism: ranks are integers, 1/(c+r) is a single
    * exactly-rounded IEEE division on both engines, and the fused score of
    * a doc is one fixed two-term expression — no aggregation order anywhere;
    * ties (a lex-only and a sem-only doc at the same rank) break on doc_id.
    * Absent-leg ranks surface as 0, not NULL (pandas nullable-int dtype
    * mismatch in the driver compare). */
  def hybridRrf(spark: SparkSession, dir: String, k: Int = 10,
      n: Int = 100, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps.cosine
    val lex = bm25TopK(spark, dir, n)
      .select(col("query_id"), col("doc_id"), col("rn").as("lex_rn"))
    val e = graft.Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < RetrievalQueries.length)
      .select(col("vec_id").cast("int").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val corpus = e.select(col("vec_id").as("doc_id"),
      col("embedding").cast("array<double>").as("nv"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    val sem = corpus.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("sem_rn", row_number().over(ws))
      .filter(col("sem_rn") <= n)
      .select(col("query_id"), col("doc_id"), col("sem_rn"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("lex_rn")), lit(0.0))
          + coalesce(lit(1.0) / (lit(c) + col("sem_rn")), lit(0.0)))
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rn"), lit(0)).cast("int").as("lex_rn"),
        coalesce(col("sem_rn"), lit(0)).cast("int").as("sem_rn"),
        round(col("rrf"), 6).as("rrf"), col("rn").cast("int").as("rn"))
  }

  /** q178: MMR diversity re-rank — maximal marginal relevance (Carbonell &
    * Goldstein) over each query's top-n cosine candidates: pick k docs
    * greedily, each round maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)
    * (λ=0.7), so the result set trades raw relevance for coverage — the
    * standard answer to "my top-10 are ten near-copies of one document",
    * which dedup upstream can't fix when the duplicates are merely topical.
    *
    * The greedy argmax is inherently sequential in k, so the k rounds are
    * UNROLLED into the plan (the q163 integer-GD / q164 BPE pattern): each
    * round is a max-aggregate of pairwise sims against the selected set, a
    * left-anti join to drop already-picked docs, and a per-query argmax
    * window — with [[graft.functions.Materialize]] cutting lineage between
    * rounds. Scale: everything downstream of the candidate cut is
    * O(|queries|·n²) — the corpus appears only in the one broadcast-query
    * scan that builds candidates (swap in the IVF index probe at true
    * scale). Determinism: selection compares raw cosine doubles (bit-equal
    * across engines, q28's established parity); ties break on doc_id;
    * rounding happens only at the output edge. */
  def mmrRerank(spark: SparkSession, dir: String, k: Int = 5, n: Int = 30): DataFrame =
    mmrRerankOn(graft.Tables.embeddings(spark, dir), RetrievalQueries.length, k, n)

  /** q196: lexical-vs-semantic retrieval AGREEMENT — per query, how much
    * of the BM25 top-k and the cosine top-k is the same documents
    * (set-intersection size, basis points of k). This is the diagnostic
    * that justifies (or kills) the q177 hybrid: near-total agreement
    * means one leg is redundant; near-zero means the legs see different
    * relevance and fusion earns its cost. Both legs are the q177 legs
    * verbatim, self-bound to k before the full-outer merge, so the whole
    * audit is O(|queries|·k) past the leg scans; counts are integers and
    * the gate hash-matches the oracle's restated chain. */
  def retrievalAgreement(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps.cosine
    val lex = bm25TopK(spark, dir, k)
      .select(col("query_id"), col("doc_id"), lit(1L).as("in_lex"))
    val e = graft.Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < RetrievalQueries.length)
      .select(col("vec_id").cast("int").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val corpus = e.select(col("vec_id").as("doc_id"),
      col("embedding").cast("array<double>").as("nv"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    val sem = corpus.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("sem_rn", row_number().over(ws))
      .filter(col("sem_rn") <= k)
      .select(col("query_id"), col("doc_id"), lit(1L).as("in_sem"))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .groupBy(col("query_id"))
      .agg(coalesce(sum(col("in_lex")), lit(0L)).as("n_lex"),
        coalesce(sum(col("in_sem")), lit(0L)).as("n_sem"),
        sum(when(col("in_lex").isNotNull && col("in_sem").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .select(col("query_id"), col("n_lex"), col("n_sem"), col("n_both"),
        expr(s"(n_both * 10000L) div ${k}L").as("overlap_bp"))
  }

  /** q204: retrieval-quality EVALUATION — the metrics harness that closes
    * the ranked-retrieval loop (build q179 → query q176 → fuse q177 →
    * rerank q178 → EVAL): per query, hits@k, MRR and recall@k of the BM25
    * ranking against a DECIDABLE relevance set — the documents containing
    * every one of the query's terms (boolean-AND ground truth, the
    * classical pre-ranking retrieval contract, so both engines derive the
    * same labels from the corpus itself — no human judgments to pin).
    *
    * Determinism: ranks come from q176's 4-dp-rounded/doc_id-tie-broken
    * ordering; metrics are integers — MRR as ⌊10000/first_rel_rank⌋ basis
    * points (0 when no relevant doc makes top-k), recall as
    * ⌊hits·10000/n_rel⌋.
    *
    * Scale: ground truth is one distinct (doc, term) scan broadcast-joined
    * against the 9-term query list — the same corpus-sized leg BM25
    * already walks; everything after the run table is Q×k rows. */
  def retrievalEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val qterms = RetrievalQueries
      .flatMap { case (qid, s) => s.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    val nTerms = qterms.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_terms"))
    // rel feeds TWO branches (the top-k join and the n_rel aggregate);
    // unmaterialized, its corpus tokenize+join ran once per branch
    val rel = graft.functions.Materialize(documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
      .join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("nm"))
      .join(broadcast(nTerms), "query_id")
      .filter(col("nm") === col("n_terms"))
      .select(col("query_id"), col("doc_id"), lit(true).as("rel")))
    val nRel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    bm25TopK(spark, dir, k)
      .select(col("query_id"), col("doc_id"), col("rn"))
      .join(rel, Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(when(col("rel"), 1L).otherwise(0L)).as("hits_at_k"),
        min(when(col("rel"), col("rn"))).as("first_rel"))
      .join(nRel, "query_id")
      .select(col("query_id"), col("n_rel"), col("hits_at_k"),
        coalesce(expr("10000L div first_rel"), lit(0L)).as("mrr_bp"),
        expr("(hits_at_k * 10000L) div n_rel").as("recall_bp"))
  }

  /** Core MMR over an explicit (vec_id, embedding) frame — vec_id <
    * nQueries are the queries, everything is a candidate (self excluded). */
  def mmrRerankOn(e: DataFrame, nQueries: Int, k: Int, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps.cosine
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").cast("int").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val corpus = e.select(col("vec_id").as("doc_id"),
      col("embedding").cast("array<double>").as("nv"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("rel").desc, col("doc_id").asc)
    val cand = graft.functions.Materialize(
      corpus.crossJoin(broadcast(q))
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("rel", cosine(col("qv"), col("nv")))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= n)
        .select(col("query_id"), col("doc_id"), col("rel"), col("nv")))
    val pair = graft.functions.Materialize(
      cand.select(col("query_id"), col("doc_id").as("a_doc"), col("nv").as("av"))
        .join(cand.select(col("query_id"), col("doc_id").as("b_doc"), col("nv").as("bv")),
          "query_id")
        .filter(col("a_doc") =!= col("b_doc"))
        .select(col("query_id"), col("a_doc"), col("b_doc"),
          cosine(col("av"), col("bv")).as("s")))
    val wp = Window.partitionBy(col("query_id")).orderBy(col("mmr").desc, col("doc_id").asc)
    var sel = cand
      .withColumn("mmr", lit(0.7) * col("rel"))
      .withColumn("pk", row_number().over(wp)).filter(col("pk") === 1)
      .select(col("query_id"), col("doc_id"), col("rel"), col("mmr"), lit(1).as("pick"))
    for (i <- 2 to k) {
      val ms = pair
        .join(sel.select(col("query_id"), col("doc_id").as("b_doc")), Seq("query_id", "b_doc"))
        .groupBy(col("query_id"), col("a_doc")).agg(max(col("s")).as("ms"))
        .withColumnRenamed("a_doc", "doc_id")
      val next = cand
        .join(sel.select(col("query_id"), col("doc_id")), Seq("query_id", "doc_id"), "left_anti")
        .join(ms, Seq("query_id", "doc_id"))
        .withColumn("mmr", lit(0.7) * col("rel") - lit(0.3) * col("ms"))
        .withColumn("pk", row_number().over(wp)).filter(col("pk") === 1)
        .select(col("query_id"), col("doc_id"), col("rel"), col("mmr"), lit(i).as("pick"))
      sel = graft.functions.Materialize(sel.unionByName(next))
    }
    sel.select(col("query_id"), col("doc_id"), col("pick"),
      round(col("rel"), 4).as("rel"), round(col("mmr"), 4).as("mmr"))
  }

  /** q182: vocabulary-drift monitor — the LEXICAL member of the
    * index-lifecycle family (q143 embedding drift → q166 IVF quantizer
    * refresh): decides when the BPE vocabulary (q164) and the inverted
    * index's term statistics ([[LexIndex]]) need re-induction because
    * ingest has drifted away from the corpus they were trained on. Two
    * integer-exact signals per batch, measured against a reference slice:
    * OOV mass (basis points of batch tokens absent from the reference
    * vocabulary — new tokens the BPE merges fragment and the index has no
    * postings for) and the L1/max shift of the reference's top-20 term
    * rates (distribution drift among KNOWN terms — what OOV alone misses).
    * The gate runs two legs: the organic held-out slice (expected: keep)
    * and a planted fully-shifted twin (every token prefixed — expected:
    * 100% OOV, rebuild), so both decision branches are oracle-stated.
    *
    * Scale: reference stats are O(vocabulary) aggregates a standing
    * pipeline keeps as a table (here recomputed — gate form); per batch
    * the cost is one token scan of the BATCH plus vocabulary-sized joins;
    * denominators are one-row broadcasts. All arithmetic is LONG
    * (basis-point integer division), so the decision is bit-stable. */
  def vocabDrift(spark: SparkSession, dir: String,
      oovThresholdBp: Long = 2000L, l1ThresholdBp: Long = 2000L): DataFrame = {
    import graft.functions.Materialize
    val d = documents(spark, dir)
      .withColumn("cb", Sampling.contentBucket(col("text")))
    val ref = d.filter(col("cb") >= 10)
    val organic = d.filter(col("cb") < 10).select(col("doc_id"), col("text"))
    val shifted = organic.select(col("doc_id"),
      regexp_replace(col("text"), "(\\S+)", "zz$1").as("text"))
    val ta = Materialize(ref.select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("na")))
    val totA = ta.agg(sum(col("na")).as("tota"))
    val top = ta.orderBy(col("na").desc, col("term").asc).limit(20)
    def leg(name: String, batch: DataFrame): DataFrame = {
      val tb = Materialize(batch.select(explode(tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("nb")))
      val totB = tb.agg(coalesce(sum(col("nb")), lit(0L)).as("totb"))
      val oov = tb.join(ta, Seq("term"), "left_anti")
        .agg(coalesce(sum(col("nb")), lit(0L)).as("oov"))
      val shift = top.join(tb, Seq("term"), "left")
        .crossJoin(broadcast(totA)).crossJoin(broadcast(totB))
        .select(abs(expr("(na * 10000) div tota")
          - expr("(coalesce(nb, 0L) * 10000) div totb")).as("delta"))
        .agg(sum(col("delta")).as("l1_bp"), max(col("delta")).as("max_delta_bp"))
      totA.crossJoin(broadcast(totB)).crossJoin(broadcast(oov))
        .crossJoin(broadcast(shift))
        .select(lit(name).as("leg"), col("tota").as("n_ref_tokens"),
          col("totb").as("n_batch_tokens"),
          expr("(oov * 10000) div totb").as("oov_bp"),
          col("l1_bp"), col("max_delta_bp"))
        .withColumn("rebuild",
          col("oov_bp") > oovThresholdBp || col("l1_bp") > l1ThresholdBp)
    }
    leg("organic", organic).unionByName(leg("shifted", shifted))
  }
}
