package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.functions.Materialize

/** Corpus-level BPE merge induction — the first rounds of training a
  * byte-pair-encoding tokenizer vocabulary, run as Spark jobs over the
  * word-frequency table (the q62/q21 token layer grows from counting
  * tokens to LEARNING them).
  *
  * Classic BPE on the weighted word table: words split into character
  * symbols (plus the `_` end-of-word sentinel), each round counts
  * adjacent symbol pairs weighted by word frequency, merges the most
  * frequent pair everywhere, and repeats. Determinism: ties break on
  * (count DESC, pair lexicographic ASC); merge application is greedy
  * left-to-right non-overlapping — Spark's UTF8String replace and
  * DuckDB's replace() share those semantics exactly, and the words are
  * filtered to ^[a-z]+$ so the pair text never needs escaping.
  * The q164 oracle re-runs the whole induction (all rounds unrolled in
  * SQL) and matches merge-for-merge, count-for-count.
  *
  * Symbol sequences are DOUBLE-space delimited ("a  b  _") with a single
  * pad space at each end during replace. A single-space encoding
  * under-merges adjacent repeats of the merged pair: in " a b a b _ "
  * the first " a b " match consumes the delimiter the second occurrence
  * needs, yielding "ab a b _" where greedy BPE yields "ab ab _". With
  * two-space delimiters each match consumes only ONE of the two spaces
  * on each side (" pa  pb " → " merged "), so the invariant — symbols
  * separated by exactly two spaces — survives every replacement and
  * back-to-back occurrences all merge, matching the textbook greedy
  * left-to-right scan (BpeInductionSpec pins this against an in-memory
  * symbol-list reference, adjacent-repeat corpora included).
  *
  * Plan per round: pair explode of the (tiny, `Materialize`d) word table
  * → one partial+final aggregate → a 1-row argmax broadcast back onto
  * the words. At corpus scale the word-frequency table is the ONLY thing
  * the rounds touch — built once with one shuffle over the corpus, then
  * every round is O(vocabulary), not O(corpus); that is what makes BPE
  * training tractable at 100 TB (the corpus is never re-read). The
  * `topWords` cap bounds the vocabulary deterministically (freq DESC,
  * word ASC) the way real tokenizer trainers cap their word tables.
  */
object BpeInduction {

  /** (word, freq, seq) — seq is the space-joined symbol sequence. */
  private[graft] def wordTable(docs: DataFrame, topWords: Int): DataFrame =
    Materialize(docs
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc).limit(topWords)
      .withColumn("seq", concat(
        array_join(regexp_extract_all(col("word"), lit("."), lit(0)), "  "),
        lit("  _"))))

  /** Adjacent-pair counts of a (freq, seq) frame, weighted by freq. */
  private[graft] def pairCounts(words: DataFrame): DataFrame =
    words
      .withColumn("syms", split(col("seq"), "  "))
      .withColumn("p", explode(arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1))))
      .select(col("p.0").as("pa"), col("p.1").as("pb"), col("freq"))
      .groupBy(col("pa"), col("pb")).agg(sum(col("freq")).as("cnt"))

  /** q164: run `rounds` BPE merges, return the learned merge table
    * (round, pa, pb, merged, cnt) — one row per round, hash-exact vs the
    * oracle's unrolled twin. */
  def merges(spark: SparkSession, dir: String, rounds: Int = 8,
      topWords: Int = 100): DataFrame = {
    require(topWords > 0 && topWords <= MaxTopWords,
      s"topWords must be in [1, $MaxTopWords] (the vocabulary is collected to the driver), got $topWords")
    graft.functions.SessionMemo(spark, s"bpe_merges:$dir:$rounds:$topWords") {
      mergesUncached(spark, dir, rounds, topWords)
    }
  }

  /** Upper bound on the training vocabulary [[merges]] collects to the
    * driver: 64k (word, freq) rows — a few MB, far above the vocabularies
    * the gates train on, far below a corpus-sized word table. */
  val MaxTopWords: Int = 1 << 16

  private def mergesUncached(spark: SparkSession, dir: String, rounds: Int,
      topWords: Int): DataFrame = {
    // The capped word table is a MODEL ARTIFACT, not data: ≤ topWords ≤
    // MaxTopWords rows by construction (the limit above, the cap
    // [[merges]] enforces), the same bounded cardinality a
    // broadcast join ships to every executor. ONE job collects it; the
    // rounds' argmax+merge loop over those symbol lists runs on the driver.
    // The former shape ran TWO eager Spark jobs per round over the same
    // ≤100 rows (argmax + merge application) — 2·rounds job launches of
    // pure scheduling overhead, measured as the BOUND of Bench's
    // q00 shared-build chain (the bpe leg: ~6.5-7.5 s, of which the corpus
    // word count is <1 s). Values are identical: same freq-weighted pair
    // counts, same (cnt DESC, pa ASC, pb ASC) tie-break, same greedy
    // left-to-right non-overlapping merge application (the symbol-list walk
    // and the double-space string replace agree — BpeInductionSpec pins
    // engine merges against the in-memory reference, and a dedicated spec
    // pins this path against the retained expression formulation).
    val wordFreqs = wordTable(documents(spark, dir), topWords)
      .select(col("word"), col("freq")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    import spark.implicits._
    mergesOnDriver(wordFreqs, rounds)
      .toDF("round", "pa", "pb", "merged", "cnt")
  }

  /** The induction loop itself — pure Scala over the collected (word,
    * freq) vocabulary. Greedy left-to-right non-overlapping application,
    * argmax tie-break (cnt DESC, pa ASC, pb ASC); rounds after the pair
    * supply empties produce no row (exactly the empty-`best` behavior of
    * the expression formulation). */
  private[graft] def mergesOnDriver(wordFreqs: Seq[(String, Long)],
      rounds: Int): Seq[(Int, String, String, String, Long)] = {
    var seqs: Seq[(List[String], Long)] =
      wordFreqs.map { case (w, f) => (w.map(_.toString).toList :+ "_", f) }
    def applyMerge(s: List[String], pa: String, pb: String): List[String] = s match {
      case a :: b :: rest if a == pa && b == pb =>
        (pa + pb) :: applyMerge(rest, pa, pb)
      case a :: rest => a :: applyMerge(rest, pa, pb)
      case Nil => Nil
    }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- seqs; Seq(a, b) <- syms.sliding(2))
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      if (counts.isEmpty) exhausted = true
      else {
        val ((pa, pb), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((r, pa, pb, pa + pb, cnt))
        seqs = seqs.map { case (s, f) => (applyMerge(s, pa, pb), f) }
      }
      r += 1
    }
    out.result()
  }

  /** q165: TOKENIZE with the learned vocabulary — apply the `rounds`
    * learned merges, in order, to EVERY distinct word in the corpus (not
    * just the capped training vocabulary: a merge like (t,h) applies to
    * any word containing the pair), then count each document's BPE
    * tokens as the sum of its words' symbol counts. Output
    * (doc_id, n_bpe_tokens) — hash-exact vs the oracle, which applies
    * the same learned merge CTEs to the same full word table. Plan: the
    * distinct-word table is one shuffle over the corpus; each merge
    * application is a broadcast of one learned pair onto that table; the
    * final count is a word-table join back to the doc-word list. */
  def tokenCounts(spark: SparkSession, dir: String, rounds: Int = 8,
      topWords: Int = 100): DataFrame = {
    val docWords = documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    docWords.join(appliedWords(docWords, spark, dir, rounds, topWords), "word")
      .groupBy(col("doc_id"))
      .agg(sum(size(split(col("seq"), "  "))).as("n_bpe_tokens"))
  }

  /** The learned merges applied to every distinct word of `docWords` —
    * (word, seq) with seq the double-space-delimited symbol sequence.
    * Shared kernel of q165's per-doc counts and q188's per-language
    * fertility, session-memoized: both callers derive `docWords` from the
    * same documents(dir) scan with the same `^[a-z]+$` filter, so the
    * distinct-word set — and therefore this table — is a pure function of
    * the memo key (dir, rounds, topWords). */
  private def appliedWords(docWords: DataFrame, spark: SparkSession,
      dir: String, rounds: Int, topWords: Int): DataFrame =
    graft.functions.SessionMemo(spark, s"bpe_words:$dir:$rounds:$topWords") {
      appliedWordsUncached(docWords, spark, dir, rounds, topWords)
    }

  private def appliedWordsUncached(docWords: DataFrame, spark: SparkSession,
      dir: String, rounds: Int, topWords: Int): DataFrame = {
    val m = merges(spark, dir, rounds, topWords)
    // the 8 learned merges pivot to ONE broadcast row, and all 8
    // applications nest into ONE projection over the distinct-word table —
    // value-identical to sequential rounds (each replace processes the
    // full output of the previous), but one job instead of `rounds`
    val mp = m.groupBy().agg(
      (1 to rounds).flatMap(r => Seq(
        max(when(col("round") === r, col("pa"))).as(s"pa$r"),
        max(when(col("round") === r, col("pb"))).as(s"pb$r"),
        max(when(col("round") === r, col("merged"))).as(s"mg$r"))).head,
      (1 to rounds).flatMap(r => Seq(
        max(when(col("round") === r, col("pa"))).as(s"pa$r"),
        max(when(col("round") === r, col("pb"))).as(s"pb$r"),
        max(when(col("round") === r, col("merged"))).as(s"mg$r"))).tail: _*)
    val applied = (1 to rounds).foldLeft("concat(' ', seq, ' ')") { (acc, r) =>
      s"replace($acc, concat(' ', pa$r, '  ', pb$r, ' '), concat(' ', mg$r, ' '))"
    }
    docWords.select(col("word")).distinct()
      .withColumn("seq", concat(
        array_join(regexp_extract_all(col("word"), lit("."), lit(0)), "  "),
        lit("  _")))
      .crossJoin(broadcast(mp))
      .withColumn("seq", expr(s"trim($applied)"))
      .select(col("word"), col("seq"))
  }

  /** q188: tokenizer FERTILITY per language — BPE pieces per word, the
    * metric that tells you which languages a learned vocabulary serves
    * poorly (high fertility = more pieces per word = shorter effective
    * context and higher compute per character for that language). The
    * q165 tokenizer applied to the corpus, aggregated per `lang`:
    * word occurrences, total pieces, and fertility in integer basis
    * points (pieces·10⁴ div words — exact, so the gate hash-matches an
    * oracle that re-learns the vocabulary and re-tokenizes from scratch).
    * Plan: the q165 word-table shuffle + one lang-keyed aggregate; the
    * merge table rides the same one-row broadcast. */
  def fertilityByLang(spark: SparkSession, dir: String, rounds: Int = 8,
      topWords: Int = 100): DataFrame = {
    val docWords = documents(spark, dir)
      .select(col("lang"), explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    docWords.join(appliedWords(docWords, spark, dir, rounds, topWords), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(col("seq"), "  ")).cast("long")).as("n_pieces"))
      .select(col("lang"), col("n_words"), col("n_pieces"),
        expr("(n_pieces * 10000L) div n_words").as("fertility_bp"))
  }

  /** The q188 oracle: the full induction + tokenization chain, aggregated
    * per language. */
  def fertilityOracleSql(rounds: Int = 8, topWords: Int = 100): String = {
    val applies = (1 to rounds).map { r =>
      s"""a$r AS (
         |  SELECT word, trim(replace(' ' || seq || ' ',
         |    ' ' || b.pa || '  ' || b.pb || ' ',
         |    ' ' || b.merged || ' ')) AS seq
         |  FROM a${r - 1} CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""${inductionCtes(rounds, topWords)},
       |dw AS (
       |  SELECT lang, unnest(str_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |dwf AS (SELECT lang, word FROM dw WHERE regexp_matches(word, '^[a-z]+$$')),
       |a0 AS (
       |  SELECT DISTINCT word,
       |    array_to_string(regexp_extract_all(word, '.'), '  ') || '  _' AS seq
       |  FROM dwf),
       |$applies
       |SELECT d.lang, count(*)::BIGINT AS n_words,
       |  sum(len(str_split(a.seq, '  ')))::BIGINT AS n_pieces,
       |  (sum(len(str_split(a.seq, '  '))) * 10000 // count(*))::BIGINT AS fertility_bp
       |FROM dwf d JOIN a$rounds a USING (word)
       |GROUP BY d.lang""".stripMargin
  }

  /** The q165 oracle: learned merges (same CTE chain as q164) applied to
    * the full distinct-word table, summed per document. */
  def tokenizeOracleSql(rounds: Int = 8, topWords: Int = 100): String = {
    val applies = (1 to rounds).map { r =>
      s"""a$r AS (
         |  SELECT word, trim(replace(' ' || seq || ' ',
         |    ' ' || b.pa || '  ' || b.pb || ' ',
         |    ' ' || b.merged || ' ')) AS seq
         |  FROM a${r - 1} CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""${inductionCtes(rounds, topWords)},
       |dw AS (
       |  SELECT doc_id, unnest(str_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |dwf AS (SELECT doc_id, word FROM dw WHERE regexp_matches(word, '^[a-z]+$$')),
       |a0 AS (
       |  SELECT DISTINCT word,
       |    array_to_string(regexp_extract_all(word, '.'), '  ') || '  _' AS seq
       |  FROM dwf),
       |$applies
       |SELECT d.doc_id, sum(len(str_split(a.seq, '  ')))::BIGINT AS n_bpe_tokens
       |FROM dwf d JOIN a$rounds a USING (word)
       |GROUP BY d.doc_id""".stripMargin
  }

  /** The shared WITH-chain: word table + `rounds` (pairs, best, apply)
    * CTE triples — everything up to (and including) w$rounds. */
  private def inductionCtes(rounds: Int, topWords: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT t[1] AS pa, t[2] AS pb, sum(freq)::BIGINT AS cnt
         |  FROM w${r - 1},
         |    LATERAL (SELECT unnest(list_zip(
         |      str_split(seq, '  ')[1:len(str_split(seq, '  ')) - 1],
         |      str_split(seq, '  ')[2:len(str_split(seq, '  '))]))) AS u(t)
         |  GROUP BY 1, 2),
         |b$r AS (
         |  SELECT $r::INT AS round, pa, pb, pa || pb AS merged, cnt
         |  FROM p$r ORDER BY cnt DESC, pa ASC, pb ASC LIMIT 1),
         |w$r AS (
         |  SELECT word, freq,
         |    trim(replace(' ' || seq || ' ',
         |      ' ' || b.pa || '  ' || b.pb || ' ',
         |      ' ' || b.merged || ' ')) AS seq
         |  FROM w${r - 1} CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT unnest(str_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |w0 AS (
       |  SELECT word, count(*)::BIGINT AS freq,
       |    array_to_string(regexp_extract_all(word, '.'), '  ') || '  _' AS seq
       |  FROM toks WHERE regexp_matches(word, '^[a-z]+$$')
       |  GROUP BY word ORDER BY freq DESC, word ASC LIMIT $topWords),
       |$steps""".stripMargin
  }

  /** The q164 oracle: the whole induction unrolled in DuckDB SQL. */
  def oracleSql(rounds: Int = 8, topWords: Int = 100): String = {
    val sel = (1 to rounds).map(r =>
      s"SELECT round, pa, pb, merged, cnt FROM b$r").mkString("\nUNION ALL\n")
    s"""${inductionCtes(rounds, topWords)}
       |$sel""".stripMargin
  }
}
