package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import graft.oracle.OracleSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — language ID (stopword n-gram
  * heuristic), quality scoring (length/punct/stopword ratios), token
  * counting, and document fingerprinting (rolling hash).
  *
  * Everything is a narrow map-only projection over the parquet scan — no
  * shuffle at any scale; only the ORDER BY for the deterministic dump sorts.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the heuristic language ID. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "de" -> Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une", "du", "dans", "est", "pour", "au"))

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(words), t))).cast("long")

  /** Per-doc stopword hits per language + argmax prediction (ties broken by
    * the fixed language order en, es, de, fr). */
  def languageId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val base = d.select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
    val withHits = Stopwords.foldLeft(base) { case (acc, (lang, words)) =>
      acc.withColumn(s"${lang}_hits", hitCount(col("tk"), words))
    }
    val Seq(en, es, de, fr) = Stopwords.map(l => col(s"${l._1}_hits"))
    withHits.withColumn("lang_pred",
        when(en >= es && en >= de && en >= fr, "en")
          .when(es >= de && es >= fr, "es")
          .when(de >= fr, "de")
          .otherwise("fr"))
      .select(col("doc_id"), col("en_hits"), col("es_hits"),
        col("de_hits"), col("fr_hits"), col("lang_pred"))
      .orderBy(col("doc_id"))
  }

  def languageIdOracle: String = {
    val toks = OracleSql.tokens("lower(text)")
    def hits(words: Seq[String]) = {
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(tk, t -> list_contains($lst, t)))::BIGINT"
    }
    val cols = Stopwords.map { case (l, ws) => s"${hits(ws)} AS ${l}_hits" }.mkString(",\n       ")
    s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |h AS (SELECT doc_id,
       |       $cols
       |FROM tok)
       |SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
       |       CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
       |            WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
       |            WHEN de_hits >= fr_hits THEN 'de'
       |            ELSE 'fr' END AS lang_pred
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Quality score: token count, mean token length, non-alnum-space ratio,
    * stopword ratio → weighted score in [0, 1]. All values are UNROUNDED:
    * each is per-row arithmetic over exact integer counts in the same
    * operation order on both engines → bit-identical doubles, whereas
    * round() itself diverges on decimal half-boundaries (int/2^k ratios
    * like 63/128 terminate with a '5' digit — see EventOps.sliding). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val base = d.select(col("doc_id"), col("text"),
      tokens(lower(col("text"))).as("tk"))
    val nTok = size(col("tk")).cast("long")
    val charLen = length(col("text")).cast("double")
    val alnumLen = length(regexp_replace(col("text"), "[^0-9a-zA-Z ]", "")).cast("double")
    val punctRatio = when(charLen === 0, 0.0).otherwise((charLen - alnumLen) / charLen)
    val meanTokLen = when(nTok === 0, 0.0)
      .otherwise(aggregate(col("tk"), lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok.cast("double"))
    val stopHits = hitCount(col("tk"), Stopwords.head._2)
    val stopRatio = when(nTok === 0, 0.0).otherwise(stopHits.cast("double") / nTok.cast("double"))
    val score =
      lit(0.4) * least(lit(1.0), nTok.cast("double") / 50.0) +
        lit(0.3) * (lit(1.0) - punctRatio) +
        lit(0.3) * least(lit(1.0), stopRatio * 5.0)
    base.select(col("doc_id"), nTok.as("n_tokens"),
      meanTokLen.as("mean_token_len"),
      punctRatio.as("punct_ratio"),
      stopRatio.as("stopword_ratio"),
      score.as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Both per-doc gates (language prediction + quality score) from ONE
    * shared token array — the fused projection CorpusPrep consumes.
    * Expressions are identical to languageId/qualityScore (both gated);
    * fusing halves the tokenization+HOF work and drops a join vs
    * composing the two pipelines. */
  def docGates(spark: SparkSession, dir: String): DataFrame =
    docGatesOver(Tables.documents(spark, dir))

  /** The gates over an explicit (doc_id, text) relation — row-local, so
    * the docbase append face can label ONE ingest batch without touching
    * the standing corpus. */
  private[graft] def docGatesOver(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), col("text"), tokens(lower(col("text"))).as("tk"))
    val withHits = Stopwords.foldLeft(base) { case (acc, (lang, words)) =>
      acc.withColumn(s"${lang}_hits", hitCount(col("tk"), words))
    }
    val Seq(en, es, de, fr) = Stopwords.map(l => col(s"${l._1}_hits"))
    val langPred = when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
    val nTok = size(col("tk")).cast("long")
    val charLen = length(col("text")).cast("double")
    val alnumLen = length(regexp_replace(col("text"), "[^0-9a-zA-Z ]", "")).cast("double")
    val punctRatio = when(charLen === 0, 0.0).otherwise((charLen - alnumLen) / charLen)
    val stopRatio = when(nTok === 0, 0.0)
      .otherwise(en.cast("double") / nTok.cast("double"))
    val score =
      lit(0.4) * least(lit(1.0), nTok.cast("double") / 50.0) +
        lit(0.3) * (lit(1.0) - punctRatio) +
        lit(0.3) * least(lit(1.0), stopRatio * 5.0)
    withHits.select(col("doc_id"), langPred.as("lang_pred"),
      score.as("quality_score"))
  }

  def qualityScoreOracle: String = {
    val toks = OracleSql.tokens("lower(text)")
    val en = Stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH tok AS (SELECT doc_id, text, $toks AS tk FROM documents),
       |m AS (SELECT doc_id,
       |        len(tk)::BIGINT AS n_tokens,
       |        length(text)::DOUBLE AS char_len,
       |        length(regexp_replace(text, '[^0-9a-zA-Z ]', '', 'g'))::DOUBLE AS alnum_len,
       |        coalesce(list_sum(list_transform(tk, t -> length(t)::BIGINT)), 0)::DOUBLE AS tok_chars,
       |        len(list_filter(tk, t -> list_contains($en, t)))::BIGINT AS stop_hits
       |      FROM tok),
       |r AS (SELECT doc_id, n_tokens,
       |        CASE WHEN n_tokens = 0 THEN 0.0 ELSE tok_chars / n_tokens::DOUBLE END AS mean_token_len,
       |        CASE WHEN char_len = 0 THEN 0.0 ELSE (char_len - alnum_len) / char_len END AS punct_ratio,
       |        CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits::DOUBLE / n_tokens::DOUBLE END AS stopword_ratio
       |      FROM m)
       |SELECT doc_id, n_tokens,
       |       mean_token_len,
       |       punct_ratio,
       |       stopword_ratio,
       |       0.4 * least(1.0, n_tokens::DOUBLE / 50.0)
       |           + 0.3 * (1.0 - punct_ratio)
       |           + 0.3 * least(1.0, stopword_ratio * 5.0) AS quality_score
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** GPT-2-style pre-tokenizer regex, simplified to the RE2 ∩ Java-regex
    * common subset: letter runs, digit runs, single non-alnum-non-space
    * (explicit whitespace class — Java/RE2 `\s` disagree on \x0B). */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"

  /** Token counting: whitespace tokens vs BPE-ish pre-tokenizer pieces,
    * plus chars-per-piece (the compression-ratio proxy used to estimate
    * LLM token cost per document). Narrow map-only projection. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val lowered = lower(col("text"))
    val pieces = regexp_extract_all(lowered, lit(BpePattern), lit(0))
    val nWs = size(tokens(lowered)).cast("long")
    val nPieces = size(pieces).cast("long")
    val pieceChars = aggregate(pieces, lit(0L), (acc, p) => acc + length(p))
    // Unrounded: int/int division, bit-identical on both engines (round()
    // diverges on the half-boundaries int/2^k ratios land on).
    d.select(col("doc_id"), nWs.as("n_ws_tokens"), nPieces.as("n_bpe_pieces"),
        when(nPieces === 0, 0.0)
          .otherwise(pieceChars.cast("double") / nPieces.cast("double"))
          .as("chars_per_piece"))
      .orderBy(col("doc_id"))
  }

  def tokenCountsOracle: String = {
    val toks = OracleSql.tokens("lower(text)")
    s"""WITH p AS (SELECT doc_id,
       |             len($toks)::BIGINT AS n_ws_tokens,
       |             regexp_extract_all(lower(text), '$BpePattern') AS pieces
       |           FROM documents)
       |SELECT doc_id, n_ws_tokens, len(pieces)::BIGINT AS n_bpe_pieces,
       |       CASE WHEN len(pieces) = 0 THEN 0.0
       |            ELSE coalesce(list_sum(list_transform(pieces, x -> length(x)::BIGINT)), 0)::DOUBLE
       |                 / len(pieces)::DOUBLE END AS chars_per_piece
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Default k for termDfTopK — ONE definition feeding both the Spark
    * query and the oracle registration. Below the corpus vocabulary size
    * (31 distinct terms in the driver corpus) so the LIMIT truncation and
    * its tiebreak ordering are actually exercised by the gate. */
  val TermTopK = 20

  /** Corpus term statistics: top-k terms by document frequency (with total
    * term frequency as tiebreak context). The classic corpus-stats job:
    * explode → two-level agg with map-side combine → TakeOrderedAndProject.
    * Deterministic order: df desc, tf desc, term. */
  def termDfTopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .orderBy(col("df").desc, col("tf").desc, col("term"))
      .limit(k)
  }

  def termDfTopKOracle(k: Int): String = {
    val toks = OracleSql.tokens("lower(text)")
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents)
       |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
       |FROM t GROUP BY term
       |ORDER BY df DESC, tf DESC, term
       |LIMIT $k""".stripMargin
  }

  /** PII-shaped masking: emails, URLs, and long digit runs replaced by
    * typed placeholder tokens; reports per-doc hit counts. Pure regex
    * projection (RE2 ∩ Java common subset — note the explicit whitespace
    * class in UrlRe: Java `\s` includes \x0B, RE2's does not), narrow at
    * any scale.
    *
    * The driver corpus contains no PII-shaped substrings (verified: zero
    * URL/email/digit matches at every sf), which would make the oracle
    * check vacuous — so the operator runs on `text` DECORATED with
    * deterministic doc_id-derived PII on both engines, making the
    * count/mask/replace-order parity real. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlRe = "https?://[^ \\t\\n\\x0B\\f\\r]+"
  val LongNumRe = "[0-9]{7,}"

  def piiMask(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val decorated = concat(col("text"),
      lit(" user"), col("doc_id"), lit("@example.com"),
      lit(" http://ex.com/d/"), col("doc_id"),
      lit(" id "), (col("doc_id") * 1234567L + 10000000L).cast("string"))
    val masked = regexp_replace(regexp_replace(regexp_replace(decorated,
      UrlRe, "<URL>"), EmailRe, "<EMAIL>"), LongNumRe, "<NUM>")
    d.select(col("doc_id"),
        size(regexp_extract_all(decorated, lit(UrlRe), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(decorated, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(decorated, lit(LongNumRe), lit(0))).cast("long").as("n_longnums"),
        md5(masked).as("masked_md5"))
      .orderBy(col("doc_id"))
  }

  val piiMaskOracle: String = {
    val dec = "text || ' user' || doc_id::VARCHAR || '@example.com'" +
      " || ' http://ex.com/d/' || doc_id::VARCHAR" +
      " || ' id ' || (doc_id * 1234567 + 10000000)::VARCHAR"
    // Same regexes; DuckDB needs 'g' for global replace.
    val masked = s"regexp_replace(regexp_replace(regexp_replace(dec, " +
      s"'$UrlRe', '<URL>', 'g'), '$EmailRe', '<EMAIL>', 'g'), '$LongNumRe', '<NUM>', 'g')"
    s"""WITH d AS (SELECT doc_id, $dec AS dec FROM documents)
       |SELECT doc_id,
       |       len(regexp_extract_all(dec, '$UrlRe'))::BIGINT AS n_urls,
       |       len(regexp_extract_all(dec, '$EmailRe'))::BIGINT AS n_emails,
       |       len(regexp_extract_all(dec, '$LongNumRe'))::BIGINT AS n_longnums,
       |       md5($masked) AS masked_md5
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprint: rolling polynomial hash of the normalized
    * (cleaned, single-spaced) text — the exact-dedup key at scale. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val norm = array_join(tokens(cleanEntity(col("text"))), " ")
    d.select(col("doc_id"), polyHash(norm).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------- winnowing fingerprints

  /** Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03) parameters: token
    * k-grams of [[WinnowK]], selection windows of [[WinnowW]] consecutive
    * gram hashes. Guarantee: any token run shared by two documents of
    * length ≥ K + W − 1 = 7 contributes at least one IDENTICAL selected
    * fingerprint to both — the sampled-with-guarantee middle ground
    * between the whole-doc hash (text_fingerprint) and the stride-1
    * window relation (dedup_spans, every position kept). */
  val WinnowK = 4
  val WinnowW = 4

  /** Position encoding base for the rightmost-min window argmin: the pair
    * (hash, pos) packs into hash·M + (M−1−pos), so ONE integer `min` per
    * window frame picks the smallest hash and, among ties, the rightmost
    * position — the rightmost-min tie-break of PLAIN winnowing (the
    * SIGMOD'03 paper's *robust* variant instead prefers re-selecting the
    * previous window's minimum; the K+W−1 guarantee holds either way) —
    * in exact integer arithmetic on both engines. M = 2^32 bounds
    * positions at 4B tokens per document (no realistic doc exceeds it;
    * the prior 2^20 base would have silently corrupted the argmin past
    * 1M tokens); polyHash < 1e9+7 < 2^30 keeps the packed key below
    * 2^62 — no Long overflow. */
  private val WinnowPosM = 4294967296L

  /** Selected fingerprints: (doc_id, pos, fp), DISTINCT argmins over every
    * full window of W consecutive k-gram hashes. A doc with ≥ K tokens but
    * fewer than W grams keeps one window over all of them (the pos-0
    * frame); docs under K tokens have no k-grams and don't participate —
    * the dedup_spans convention. Expected density 2/(W+1) of positions —
    * the whole derivation is one narrow pass plus per-doc window frames;
    * no corpus-keyed exchange. */
  private[graft] def winnowSelect(d: DataFrame): DataFrame = {
    val g = d.select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"),
        posexplode(tokenWindows(col("tk"), WinnowK)).as(Seq("pos", "wkey")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        polyHash(col("wkey")).as("h"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    g.withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("k",
        min(col("h") * WinnowPosM + (lit(WinnowPosM - 1L) - col("pos"))).over(frame))
      .filter(col("pos") <= greatest(col("n") - WinnowW, lit(0L)))
      .select(col("doc_id"),
        (lit(WinnowPosM - 1L) - pmod(col("k"), lit(WinnowPosM))).as("pos"),
        expr(s"k div $WinnowPosM").as("fp"))
      .distinct()
  }

  def winnow(spark: SparkSession, dir: String): DataFrame =
    winnowSelect(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("pos"))

  /** Oracle fragment: the selected-fingerprint relation (doc_id, pos, fp)
    * over `documents` — shared by the winnow gate row and the pairs op. */
  private[graft] def winnowSelectSql: String = {
    val toks = OracleSql.tokens("lower(text)")
    val K = WinnowK; val W = WinnowW; val M = WinnowPosM
    s"""tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |g AS (SELECT doc_id,
       |        unnest(range(0, greatest(len(tk) - $K + 1, 0))) AS pos,
       |        unnest(${OracleSql.tokenWindows("tk", K)}) AS wkey
       |      FROM tok),
       |gh AS (SELECT doc_id, pos::BIGINT AS pos, ${OracleSql.polyHash("wkey")} AS h FROM g),
       |sel AS (SELECT DISTINCT doc_id,
       |          ($M - 1 - (k % $M))::BIGINT AS pos, (k // $M)::BIGINT AS fp
       |        FROM (SELECT doc_id, pos,
       |                count(*) OVER (PARTITION BY doc_id) AS n,
       |                min(h * $M + ($M - 1 - pos)) OVER (PARTITION BY doc_id ORDER BY pos
       |                  ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS k
       |              FROM gh)
       |        WHERE pos <= greatest(n - $W, 0))""".stripMargin
  }

  def winnowOracle: String =
    s"""WITH ${winnowSelectSql}
       |SELECT doc_id, pos, fp FROM sel ORDER BY doc_id, pos""".stripMargin

  def fingerprintOracle: String = {
    val norm = s"array_to_string(${OracleSql.tokens(OracleSql.clean("text"))}, ' ')"
    s"""WITH n AS (SELECT doc_id, $norm AS nt FROM documents)
       |SELECT doc_id, ${OracleSql.polyHash("nt")} AS fingerprint
       |FROM n ORDER BY doc_id""".stripMargin
  }

  /** Corpus-LM fluency proxy: score each document by how common its word
    * bigrams are in the corpus itself (the integer-exact core of a bigram
    * language model — counts and one final division, no transcendental
    * per-term log whose last-ulp could diverge across engines). Low scores
    * flag gibberish/boilerplate-free outliers; high scores flag templated
    * text. Shape: bigram derivation is narrow (in-row transform over the
    * token array); the corpus frequency attaches via a window count over
    * the bigram partition (one exchange, one corpus scan — see inline
    * note); the per-doc rollup is exact integer sums. Docs with < 2
    * pieces have no bigrams and are excluded on both engines. */
  def bigramScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))
    val bigrams = transform(sequence(lit(0), size(col("toks")) - 2),
      i => concat(element_at(col("toks"), i + 1), lit(" "),
        element_at(col("toks"), i + 2)))
    val b = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(bigrams).as("bigram"))
    // Corpus frequency as a WINDOW count over the bigram partition — ONE
    // exchange on the bigram key and ONE corpus scan. The groupBy+re-join
    // spelling scans and re-derives the bigram pipeline on both join sides
    // (column pruning makes the subtrees differ, so exchange reuse cannot
    // kick in), i.e. two full passes at 100 TB; the window form is the
    // same shuffle with the count attached in place.
    b.withColumn("c", count(lit(1)).over(Window.partitionBy(col("bigram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("sum_freq"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_freq"),
        (col("sum_freq").cast("double") / col("n_bigrams").cast("double"))
          .as("bigram_score"))
      .orderBy(col("doc_id"))
  }

  val bigramScoreOracle: String =
    s"""WITH t AS (SELECT doc_id,
       |             regexp_extract_all(lower(text), '$BpePattern') AS toks
       |           FROM documents),
       |b AS (SELECT doc_id,
       |             unnest(list_transform(range(1, len(toks)),
       |                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
       |      FROM t WHERE len(toks) >= 2),
       |w AS (SELECT doc_id, count(*) OVER (PARTITION BY bigram) AS c FROM b),
       |j AS (SELECT doc_id, count(*) AS n_bigrams, sum(c)::BIGINT AS sum_freq
       |      FROM w GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, sum_freq,
       |       sum_freq::DOUBLE / n_bigrams::DOUBLE AS bigram_score
       |FROM j ORDER BY doc_id""".stripMargin

  /** Intra-document repetition signals (the Gopher-style repetition
    * rules): per doc, the fraction of duplicate token `win`-grams and the
    * share of the single most frequent one — catches loop-generated /
    * boilerplate-stuffed documents that per-corpus dedup never sees
    * (the repetition is WITHIN one doc). Exploded gram counts group on
    * the per-doc key (map-side-combinable, one shuffle keyed by doc —
    * grows with the corpus); fractions are exact-integer divisions, so
    * the row is bit-identical cross-engine. Docs too short for a single
    * window report zeros, not nulls. */
  def repetition(spark: SparkSession, dir: String, win: Int = 3): DataFrame = {
    val d = graft.Tables.documents(spark, dir)
    val tok = d.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(lower(col("text"))).as("tk"))
    val grams = tok.select(col("doc_id"), explode(
      graft.functions.TextFunctions.tokenWindows(col("tk"), win)).as("g"))
    val stats = grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("distinct_grams"),
        max(col("c")).as("top_c"))
    d.select(col("doc_id")).join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("distinct_grams"), lit(0L)).as("distinct_grams"),
        when(coalesce(col("n_grams"), lit(0L)) === 0L, lit(0.0))
          .otherwise((col("n_grams") - col("distinct_grams")).cast("double") /
            col("n_grams").cast("double")).as("dup_frac"),
        when(coalesce(col("n_grams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("top_c").cast("double") /
            col("n_grams").cast("double")).as("top_frac"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------- BM25 keyword search

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  /** Quantization scale for per-term score summation (KMeans.QuantScale
    * technique: groupBy sums floats in partition order, so per-term scores
    * are floor-quantized to longs first — associative, order-free). */
  val Bm25Quant = 1000000L

  /** Per-(doc, term) floor-quantized BM25 score — the ONE Column spelling
    * both the single and batch forms use. Association is explicit:
    * (idf * (num/den)) * Q — the SQL twin [[bm25QsSql]] parenthesizes the
    * quotient identically, because ((idf*num)/den)*Q is a DIFFERENT IEEE
    * rounding sequence and a score within an ulp of an integer would
    * floor to different longs on the two engines. */
  private[graft] def bm25Qs(tf: Column, dfc: Column, n: Column,
                            sdl: Column, dl: Column): Column = {
    val idf = (n.cast("double") - dfc.cast("double") + 0.5) /
      (dfc.cast("double") + 0.5)
    val tfNorm = (tf.cast("double") * (Bm25K1 + 1.0)) /
      (tf.cast("double") + lit(Bm25K1) * (lit(1.0 - Bm25B) +
        lit(Bm25B) * dl.cast("double") / (sdl.cast("double") / n.cast("double"))))
    floor(idf * tfNorm * Bm25Quant.toDouble).cast("long")
  }

  /** SQL twin of [[bm25Qs]] — same association, parenthesized quotient. */
  private[operators] def bm25QsSql(tf: String, dfc: String, n: String,
                                   sdl: String, dl: String): String =
    s"""floor((($n::DOUBLE - $dfc::DOUBLE + 0.5) / ($dfc::DOUBLE + 0.5))
       | * (($tf::DOUBLE * ($Bm25K1 + 1.0))
       |    / ($tf::DOUBLE + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * $dl::DOUBLE
       |         / ($sdl::DOUBLE / $n::DOUBLE))))
       | * $Bm25Quant.0)::BIGINT""".stripMargin.replaceAll("\n", " ")

  /** BM25 top-k document retrieval (Robertson/Spärck Jones probabilistic
    * relevance framework) — the keyword-search face of the engine. One
    * DOCUMENTED deviation for cross-engine bit-exactness: the idf factor
    * is the RATIONAL odds (N - df + 0.5)/(df + 0.5), not its log — log's
    * last ulp differs between libm and the JVM, and the house rule is no
    * transcendental in any gated value (see qualityScore / bigramScore).
    * Per-term weighting is the same monotone statistic; score SUMS weight
    * rare terms more steeply than log-BM25, which is the trade stated
    * here.
    *
    * Scale shape: tokens explode once; the query-term filter cuts the
    * relation to |Q| terms' postings BEFORE any aggregation (at 100 TB
    * this is the materialized word-posting read — fuzzy_indexed's layout
    * keyed by term instead of trigram); df and the corpus length stats
    * are tiny broadcast aggregates; per-(doc, term) scores quantize to
    * longs and sum per doc (map-side combinable); top-k is
    * TakeOrderedAndProject. */
  def bm25TopK(spark: SparkSession, dir: String, query: Seq[String], k: Int): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tok = d.select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
    val dl = tok.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val m = tok.select(col("doc_id"), explode(col("tk")).as("term"))
      .filter(array_contains(typedLit(query), col("term")))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = m.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val sc = m.join(broadcast(df), "term").join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .select(col("doc_id"),
        bm25Qs(col("tf"), col("df"), col("n"), col("sdl"), col("dl")).as("qs"))
    sc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("qs")).as("score_q"))
      .select(col("doc_id"), col("n_terms"),
        (col("score_q").cast("double") / Bm25Quant.toDouble).as("bm25"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)
  }

  def bm25TopKOracle(query: Seq[String], k: Int): String = {
    val toks = OracleSql.tokens("lower(text)")
    val q = query.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |dl AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM tok),
       |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl FROM dl),
       |t AS (SELECT doc_id, unnest(tk) AS term FROM tok),
       |m AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t
       |      WHERE list_contains($q, term) GROUP BY doc_id, term),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM m GROUP BY term),
       |sc AS (SELECT m.doc_id,
       |         ${bm25QsSql("m.tf", "df.df", "st.n", "st.sdl", "dl.dl")} AS qs
       |       FROM m JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_terms, sum(qs)::BIGINT AS score_q
       |        FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_terms, score_q::DOUBLE / $Bm25Quant.0 AS bm25
       |FROM agg ORDER BY score_q DESC, doc_id LIMIT $k""".stripMargin
  }

  def repetitionOracle(win: Int = 3): String = {
    val toks = graft.oracle.OracleSql.tokens("lower(text)")
    s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |g AS (SELECT doc_id,
       |             unnest(${graft.oracle.OracleSql.tokenWindows("tk", win)}) AS g
       |      FROM tok),
       |pc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
       |st AS (SELECT doc_id, sum(c)::BIGINT AS n_grams,
       |              count(*) AS distinct_grams, max(c) AS top_c
       |       FROM pc GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(st.n_grams, 0) AS n_grams,
       |       coalesce(st.distinct_grams, 0) AS distinct_grams,
       |       CASE WHEN coalesce(st.n_grams, 0) = 0 THEN 0.0
       |            ELSE (st.n_grams - st.distinct_grams)::DOUBLE / st.n_grams::DOUBLE
       |       END AS dup_frac,
       |       CASE WHEN coalesce(st.n_grams, 0) = 0 THEN 0.0
       |            ELSE st.top_c::DOUBLE / st.n_grams::DOUBLE
       |       END AS top_frac
       |FROM documents d LEFT JOIN st USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }
}
