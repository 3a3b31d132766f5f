package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.functions.TextFunctions.polyHash
import graft.oracle.OracleSql

/** Trained-LM fluency filter — the CCNet-style quality signal (Wenzek et
  * al. 2020, arXiv:1911.00359): train a smoothed bigram language model on
  * the high-quality reference slice, score EVERY document by how probable
  * its text is under that model, and let the pipeline keep the head of
  * the distribution. This completes the quality-model ladder: heuristics
  * (`text_quality`) → corpus-frequency proxy (`text_bigram_score`, no
  * trained state) → trained classifier (`quality_lr_*`, supervised) →
  * trained LM (this file, self-supervised on the reference slice).
  *
  * The reference slice is the deterministic TRAIN split
  * ([[Pipeline.corpusSplit]]'s hash-coin — membership is a pure
  * expression of doc_id, so training never needs the split relation),
  * which is exactly the slice whose leakage/decontamination guarantees
  * the split family already maintains.
  *
  * Documented deviations, per house rules (the rational-odds-idf
  * precedent in [[TextAnalysis.bm25TopK]]):
  *   - NO TRANSCENDENTALS in gated values: the standard per-token log
  *     probability (and its exp'd perplexity) is replaced by the
  *     arithmetic mean of the SAME add-one-smoothed conditional
  *     probabilities p(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V), each
  *     floor-quantized to a long via INTEGER division
  *     (Quant·(c+1)) div (c_uni+V) — zero floating point anywhere in
  *     the gated columns, bit-exact on any engine. Monotone per bigram
  *     (what the filter thresholds on); the tail emphasis is
  *     arithmetic- rather than geometric-mean, the same trade
  *     [[Dsir]] documents.
  *   - c(w1·) is the count of bigrams STARTING with w1 (the standard
  *     conditional-MLE denominator); V is the train slice's full
  *     unigram vocabulary, so an unseen context scores 1/V-ish, never
  *     divides by zero, and the score of a fluent doc sits well above
  *     the gibberish floor (LmQualitySpec pins the discrimination on a
  *     crafted corpus).
  *
  * Scale shape — the model is VOCABULARY-sized (distinct bigrams), NOT
  * broadcastable at 100 TB (unlike [[Dsir]]'s hash-bounded 4096 rows or
  * [[QualityModel]]'s one weight row — feature hashing vs exact
  * vocabulary is precisely the trade between those families and this
  * one). Scoring is therefore a SHUFFLE join keyed by the bigram string:
  * doc grams explode once, exchange on the bigram key against the model
  * relation, then roll up per doc (map-side-combinable long sums, one
  * doc_id exchange). The serving face reads the model from a
  * kind-partitioned materialized artifact (`graft_lmmodel`) so a scoring
  * pass never re-derives the train fold, and each serving branch
  * (bigram / unigram / vocab-scalar) scans ONLY its own partition
  * directory. The vocab scalar and nothing else is broadcast.
  *
  * Overflow audit (Long): Quant·(c_big+1) ≤ 1e6·(corpus bigram
  * occurrences + 1) — safe to ~9·10^12 occurrences of ONE bigram
  * (far beyond a 100 TB corpus's hottest bigram); per-doc score sums are
  * bounded by n_bigrams·Quant ≤ doc length · 1e6. */
object LmQuality {

  /** Probability quantization scale: a per-bigram quantized probability
    * carries 6 digits (p is in (0, 1], so qs ∈ [0, Quant]). */
  val Quant = 1000000L

  /** Gate cap for the model-inspection row. */
  val TrainTopK = 100

  // ------------------------------------------------------- shared pieces

  /** Train-split membership as a pure expression of doc_id — the same
    * hash-coin as [[Pipeline.corpusSplit]] (constants shared, not
    * copied). */
  private def isTrain(docId: Column): Column =
    pmod(polyHash(concat(lit(Pipeline.SplitSalt), docId.cast("string"))),
      lit(1000L)) < Pipeline.SplitTrainUpto

  /** (doc_id, tk) whitespace tokens of lowered text. */
  private[graft] def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(lower(col("text"))).as("tk"))

  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    tokenize(graft.Tables.documents(spark, dir))

  /** Explode a tokenized relation to (doc_id, bg) space-joined bigram
    * strings — [[graft.functions.TextFunctions.tokenWindows]] at win=2
    * (the ONE shared window derivation; tokens are whitespace-split, so
    * ' ' cannot occur inside a token and the joined window is a faithful
    * pair key). Docs with fewer than 2 tokens have no bigrams and drop
    * out here — the same contract as [[TextAnalysis.bigramScore]]. */
  private[graft] def bigrams(tok: DataFrame): DataFrame =
    tok.filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.tokenWindows(col("tk"), 2)).as("bg"))

  /** The three trained relations over a tokenized reference slice:
    * (bigram counts keyed by the joined string, context counts keyed by
    * w1, the one-row vocabulary size). */
  private[graft] def trainedOver(tok: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val tb = bigrams(tok)
    val big = tb.groupBy(col("bg")).agg(count(lit(1)).as("c_big"))
    val uni = tb.select(substring_index(col("bg"), " ", 1).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c_uni"))
    val v = tok.select(explode(col("tk")).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    (big, uni, v)
  }

  /** Score a bigram relation against a trained model: two left joins
    * (bigram key, then context key — unseen bigrams still need their
    * context's count), the broadcast vocab scalar, the integer-division
    * quantized probability, one per-doc rollup. The one Column spelling
    * both the inline and the served face use. The `greatest(v, 1)`
    * floor keeps the denominator positive even against an EMPTY
    * reference slice (then every bigram scores (0+1)/(0+1) = 1.0 — a
    * defined everything-is-fluent degenerate instead of a
    * divide-by-zero that Spark nulls and DuckDB errors on). */
  private[graft] def scoreWith(db: DataFrame, big: DataFrame, uni: DataFrame,
                                v: DataFrame): DataFrame =
    db.join(big, Seq("bg"), "left")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), expr(
        s"($Quant * (coalesce(c_big, 0) + 1)) div (coalesce(c_uni, 0) + greatest(v, 1))")
        .as("qs"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("qs")).as("score_q"))
      .select(col("doc_id"), col("n_bigrams"), col("score_q"),
        (col("score_q").cast("double") /
          (col("n_bigrams").cast("double") * lit(Quant.toDouble)))
          .as("lm_score"))
      .orderBy(col("doc_id"))

  private def trainedInline(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    trainedOver(tokenized(spark, dir).filter(isTrain(col("doc_id"))))

  // ---------------------------------------------------------- gate faces

  /** Model inspection row: the [[TrainTopK]] most frequent train-split
    * bigrams with their context counts — exercises the full training
    * fold while keeping the gated relation bounded. */
  def lmTrain(spark: SparkSession, dir: String): DataFrame = {
    val (big, uni, _) = trainedInline(spark, dir)
    big.withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uni, Seq("w1"))
      .select(col("w1"), col("w2"), col("c_big"), col("c_uni"))
      .orderBy(col("c_big").desc, col("w1"), col("w2"))
      .limit(TrainTopK)
  }

  /** Score EVERY document (train docs self-score — the filter's normal
    * mode) under the inline-trained model. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val (big, uni, v) = trainedInline(spark, dir)
    scoreWith(bigrams(tokenized(spark, dir)), big, uni, v)
  }

  // ------------------------------------------------------- serving face

  /** Materialized model: one relation, kind-partitioned so each serving
    * branch scans only its directory —
    * `kind=big` (key = "w1 w2", c = bigram count),
    * `kind=uni` (key = w1, c = context count),
    * `kind=v` (key = "", c = vocabulary size). */
  def ensureModel(spark: SparkSession, dir: String, version: Int = 1): String =
    graft.Materialize.ensure(spark, "graft_lmmodel", dir, version) { p =>
      val (big, uni, v) = trainedInline(spark, dir)
      big.select(lit("big").as("kind"), col("bg").as("key"), col("c_big").as("c"))
        .unionByName(uni.select(lit("uni").as("kind"), col("w1").as("key"),
          col("c_uni").as("c")))
        .unionByName(v.select(lit("v").as("kind"), lit("").as("key"),
          col("v").as("c")))
        // NO repartition(kind): a 3-valued hash partitioning would
        // funnel the whole vocabulary-sized 'big' relation through one
        // writer task — partitionBy alone routes rows from every task
        .write.mode("overwrite").partitionBy("kind").parquet(p)
    }

  /** The serving twin of [[lmScore]]: IDENTICAL output (one oracle gates
    * both), model read from the artifact — a scoring pass never re-runs
    * the train fold, and the partition filters prune to one directory
    * per branch. */
  def lmScoreIndexed(spark: SparkSession, dir: String): DataFrame =
    scoreAgainstModel(graft.Tables.documents(spark, dir),
      graft.Tables.parquet(spark, ensureModel(spark, dir)))

  /** Score a raw (doc_id, text) relation against the kind-partitioned
    * model relation — the core of the indexed face. A doc's score depends only on its own bigrams vs the static
    * model, so per-micro-batch evaluation is exact under any chunking. */
  private[graft] def scoreAgainstModel(docs: DataFrame, model: DataFrame): DataFrame = {
    val big = model.filter(col("kind") === "big")
      .select(col("key").as("bg"), col("c").as("c_big"))
    val uni = model.filter(col("kind") === "uni")
      .select(col("key").as("w1"), col("c").as("c_uni"))
    val v = model.filter(col("kind") === "v").select(col("c").as("v"))
    scoreWith(bigrams(tokenize(docs)), big, uni, v)
  }

  /** Relative LM-fluency cut — the filter applied as a pipeline stage:
    * keep documents at or above the corpus MEDIAN trained-LM score (the
    * CCNet deployment shape: percentile-anchored "drop the worst half",
    * robust to corpus drift where a constant threshold is not; CCNet's
    * own head/middle/tail terciles are the same statistic at different
    * quantiles). Scores come from the SERVED model (`lmScoreIndexed`),
    * so a cut pass never re-trains; the median is an exact sort-based
    * percentile evaluated once as a scalar subquery — at 100 TB it
    * becomes `approx_percentile` (one-pass mergeable sketch) with an
    * identical plan shape, exact here because the gate demands
    * bit-equality (the `qualityCut` precedent). */
  def lmCut(spark: SparkSession, dir: String): DataFrame = {
    val s = lmScoreIndexed(spark, dir).select(col("doc_id"), col("lm_score"))
    val med = s.agg(
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY lm_score)").as("m"))
    s.filter(col("lm_score") >= med.scalar())
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- oracles

  private def trainCtes: String = {
    val toks = OracleSql.tokens("lower(text)")
    val coin = OracleSql.polyHash(s"('${Pipeline.SplitSalt}' || doc_id::VARCHAR)")
    s"""tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |tr AS (SELECT tk FROM tok WHERE $coin % 1000 < ${Pipeline.SplitTrainUpto}),
       |tb AS (SELECT unnest(${OracleSql.tokenWindows("tk", 2)}) AS bg
       |       FROM tr WHERE len(tk) >= 2),
       |big AS (SELECT bg, count(*)::BIGINT AS c_big FROM tb GROUP BY bg),
       |uni AS (SELECT split_part(bg, ' ', 1) AS w1, count(*)::BIGINT AS c_uni
       |        FROM tb GROUP BY 1)""".stripMargin
  }

  def lmTrainOracle: String =
    s"""WITH ${trainCtes}
       |SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
       |       c_big, c_uni
       |FROM big JOIN uni ON split_part(bg, ' ', 1) = uni.w1
       |ORDER BY c_big DESC, w1, w2 LIMIT $TrainTopK""".stripMargin

  /** CTE fragment ending in `lms`(doc_id, n_bigrams, score_q, lm_score) —
    * the per-doc trained-LM score relation, shared by the standalone
    * score rows and the composed e2e oracle (lm_* prefixes avoid
    * top-level CTE name collisions there). */
  private[graft] def lmScoreCtes: String =
    s"""${trainCtes},
       |lm_v AS (SELECT count(DISTINCT w)::BIGINT AS v
       |      FROM (SELECT unnest(tk) AS w FROM tr)),
       |lm_db AS (SELECT doc_id, unnest(${OracleSql.tokenWindows("tk", 2)}) AS bg
       |       FROM tok WHERE len(tk) >= 2),
       |lm_j AS (SELECT lm_db.doc_id,
       |        ($Quant * (coalesce(big.c_big, 0) + 1))
       |          // (coalesce(uni.c_uni, 0) + greatest(lm_v.v, 1)) AS qs
       |      FROM lm_db LEFT JOIN big ON lm_db.bg = big.bg
       |        LEFT JOIN uni ON split_part(lm_db.bg, ' ', 1) = uni.w1
       |        CROSS JOIN lm_v),
       |lms AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |             sum(qs)::BIGINT AS score_q,
       |             sum(qs)::DOUBLE / (count(*)::DOUBLE * $Quant.0) AS lm_score
       |      FROM lm_j GROUP BY doc_id)""".stripMargin

  /** One oracle gates both the inline and the served face. */
  def lmScoreOracle: String =
    s"""WITH ${lmScoreCtes}
       |SELECT doc_id, n_bigrams, score_q, lm_score
       |FROM lms ORDER BY doc_id""".stripMargin

  def lmCutOracle: String =
    s"""WITH s AS (SELECT doc_id, lm_score FROM ($lmScoreOracle)),
       |m AS (SELECT quantile_cont(lm_score, 0.5) AS m FROM s)
       |SELECT doc_id, lm_score FROM s, m WHERE lm_score >= m.m
       |ORDER BY doc_id""".stripMargin
}
