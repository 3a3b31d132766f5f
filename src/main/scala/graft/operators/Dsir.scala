package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.oracle.OracleSql

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): select raw-pool documents that resemble a small
  * target domain by importance weights over hashed n-gram features.
  *
  * The shipped shape is the paper's bag-of-hashed-ngrams estimator made
  * relational:
  *   1. FIT pass — one corpus scan explodes unigram+bigram features,
  *      hashes each into one of [[Buckets]] buckets (cross-engine
  *      polyHash, see TextFunctions.polyHash) and add-1-smoothed bucket
  *      counts split target-vs-pool. The model is the ≤[[Buckets]]-row
  *      ratio table — broadcast-sized BY CONSTRUCTION at any corpus size
  *      (the whole point of feature hashing).
  *   2. SCORE pass — a second narrow scan explodes pool grams, joins the
  *      broadcast ratio table, and sums per doc: one exchange keyed by
  *      doc_id (map-side combinable longs).
  *   3. SELECT — deterministic top-k by (score_mean, doc_id), a
  *      TakeOrderedAndProject stream head, never a global sort.
  *
  * Documented deviations from the paper, per house rules:
  *   - NO TRANSCENDENTALS (the rational-odds-idf precedent): the paper's
  *     log importance weight Σ_b c_b·(log p̂_b − log q̂_b) becomes the
  *     quantized mean likelihood ratio Σ_b c_b·r̂_b / Σ_b c_b with
  *     r̂_b = floor((t_b+1)·G / (q_b+1)), G = floor(S·(Q+B)/(T+B)) —
  *     per-bucket the SAME monotone statistic (up-weights buckets
  *     overrepresented in the target), exact in integers on both engines;
  *     the tail emphasis is arithmetic- rather than geometric-mean.
  *   - NO rand(): the paper's Gumbel-top-k resampling (jitter exists to
  *     de-duplicate selection under weight ties) becomes deterministic
  *     top-k with the total order (score_mean DESC, doc_id) — re-running
  *     selection on a re-ingested corpus picks the same documents.
  *
  * The synthetic gate corpus has NO domain axis (all sources draw one
  * word distribution — measured: per-word target fractions sit inside
  * multinomial noise), so the oracle gates ARITHMETIC, and
  * discrimination is pinned by DsirSpec on a crafted corpus where the
  * target vocabulary is genuinely skewed (held-out target docs must
  * outrank the pool).
  *
  * Overflow audit (Long): polyHash < 1e9+7; G ≤ S·(Q+B) ≤ 1e6·Q;
  * (t_b+1)·G and per-doc Σ r̂ stay under 2^63 while Q·S < 9e18, i.e.
  * corpora to ~10^12 pool grams at S=1e6 — beyond that drop S to 1e4
  * (same floors on both engines, two decimal digits less resolution). */
object Dsir {

  /** Feature-hash bucket count (paper: 10k; 4096 keeps the ratio table
    * broadcast-trivial and the crafted-spec collisions improbable). */
  val Buckets = 4096L

  /** Ratio quantization scale: r̂ carries 6 integer digits of the real
    * likelihood ratio. */
  val Scale = 1000000L

  /** The target-domain stand-in on the gate corpus: two sources play the
    * curated corpus, their even-doc_id half is the FIT slice; the odd
    * half is scored with the pool as planted held-out positives (the
    * standard DSIR evaluation: selection should recover them). */
  val TargetSources: Seq[String] = Seq("src0", "src1")

  val TopK = 100

  /** text → hashed feature buckets, NATIVE kernel (GramBucketsExpr: one
    * tight-loop eval per doc instead of four interpreted lambda trees
    * re-run by the explode's pushdown filter — the MinHashSignature
    * lesson, ~8× on the whole query at sf0.1). DsirSpec pins bit parity
    * with the composed twin, order included. */
  private def gramBuckets(text: Column): Column =
    graft.functions.GramBucketsExpr.gramBucketsF(lower(text), Buckets)

  /** doc_id, tgt_dom, fit, bks (hashed gram buckets) per document. */
  private def featured(docs: DataFrame): DataFrame = {
    val tgt = col("source").isin(TargetSources: _*)
    docs.select(col("doc_id"), tgt.as("tgt_dom"),
      (tgt && pmod(col("doc_id"), lit(2L)) === 0).as("fit"),
      gramBuckets(col("text")).as("bks"))
  }

  /** Per-document importance weights over an explicit corpus — the core
    * the gate queries and the crafted spec share. Output: one row per
    * NON-FIT doc (the selection pool plus planted held-out targets):
    * (doc_id, held_out_target, n_grams, score_sum, score_mean). */
  def dsirWeightsOver(docs: DataFrame): DataFrame = {
    val base = featured(docs)
    val bkt = base.select(col("doc_id"), col("fit"), col("tgt_dom"),
      explode(col("bks")).as("bucket"))
    // FIT: bucket counts target-vs-pool, one corpus scan, ≤ Buckets rows.
    val stats = bkt.groupBy("bucket").agg(
      sum(when(col("fit"), 1L).otherwise(0L)).as("t"),
      sum(when(!col("fit"), 1L).otherwise(0L)).as("q"))
    // Global factor G folds the corpus totals into every bucket ratio.
    // Totals come from an unpartitioned WINDOW over the ≤Buckets-row
    // stats relation — a crossJoin(broadcast(stats.agg(...))) would make
    // Catalyst DERIVE STATS TWICE (a third corpus scan + explode, plan-
    // audited); the window consumes the one stats aggregation.
    val ratio = stats
      .withColumn("gf", expr(
        s"($Scale * (sum(q) OVER () + $Buckets)) div (sum(t) OVER () + $Buckets)"))
      .select(col("bucket"), expr("((t + 1) * gf) div (q + 1)").as("r"))
    // SCORE: pool grams ⋈ broadcast model → one doc_id exchange.
    val score = bkt.filter(!col("fit"))
      .join(broadcast(ratio), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("r")).as("score_sum"))
    base.filter(!col("fit"))
      .select(col("doc_id"), col("tgt_dom").as("held_out_target"))
      .join(score, Seq("doc_id"), "left")
      .select(col("doc_id"), col("held_out_target"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score_sum"), lit(0L)).as("score_sum"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          expr("score_sum div n_grams")).otherwise(lit(0L)).as("score_mean"))
  }

  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsOver(graft.Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** The selection itself: top-k pool docs by quantized mean likelihood
    * ratio, deterministic total order (no Gumbel — see object doc). */
  def dsirTopK(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    dsirWeightsOver(graft.Tables.documents(spark, dir))
      .orderBy(col("score_mean").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("held_out_target"), col("score_mean"))

  /** Per-mille keep propensity: score_mean div (Scale/1000) maps a
    * likelihood ratio of 1.0 to ~1000‰; capped at certainty. */
  val ResampleDiv: Long = Scale / 1000L
  val ResampleSalt = "dsir:"

  /** The RESAMPLING step itself (the paper's R): keep each pool document
    * with propensity proportional to its importance weight — capped at
    * certainty — via the engine's deterministic hash-Bernoulli coin (the
    * sample_stratified/corpus_split design: a doc's fate depends only on
    * its own id, so re-ingestion reproduces the sample; no rand()).
    * Documents resembling the target domain survive at a higher rate,
    * which is importance resampling with the arithmetic-mean weight
    * deviation documented above. Map-only over the scored pool. */
  def dsirResample(spark: SparkSession, dir: String): DataFrame = {
    val coin = pmod(graft.functions.TextFunctions.polyHash(
      concat(lit(ResampleSalt), col("doc_id").cast("string"))), lit(1000L))
    dsirWeightsOver(graft.Tables.documents(spark, dir))
      .withColumn("keep_permille",
        least(lit(1000L), expr(s"score_mean div $ResampleDiv")))
      .filter(coin < col("keep_permille"))
      .select(col("doc_id"), col("held_out_target"), col("score_mean"),
        col("keep_permille"))
      .orderBy(col("doc_id"))
  }

  def dsirResampleOracle: String = {
    val coin = graft.oracle.OracleSql.polyHash(
      s"('$ResampleSalt' || doc_id::VARCHAR)")
    s"""$weightsSql
       |SELECT doc_id, held_out_target, score_mean,
       |       least(1000, score_mean // $ResampleDiv)::BIGINT AS keep_permille
       |FROM pool
       |WHERE ($coin) % 1000 < least(1000, score_mean // $ResampleDiv)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- materialized fit model

  val ModelVersion = 1

  /** Dense per-bucket ADDITIVE fit counts over an explicit corpus batch —
    * all [[Buckets]] rows present (t/q = 0 where unseen), so scoring never
    * needs an outer join against the model. Additivity (t/q are plain
    * sums) is what gives a fitted model an append face at all: the read
    * folds rows by bucket, and folded counts equal a refit over the
    * unioned corpus EXACTLY (IncrementalIndexSpec pins it). */
  private[graft] def modelCounts(docs: DataFrame): DataFrame = {
    val bkt = featured(docs)
      .select(col("fit"), explode(col("bks")).as("bucket"))
    val stats = bkt.groupBy("bucket").agg(
      sum(when(col("fit"), 1L).otherwise(0L)).as("t"),
      sum(when(!col("fit"), 1L).otherwise(0L)).as("q"))
    docs.sparkSession.range(Buckets).select(col("id").as("bucket"))
      .join(stats, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("t"), lit(0L)).as("t"),
        coalesce(col("q"), lit(0L)).as("q"))
  }

  /** The fit model (at scale fitted at ingest; every scoring pass is a
    * read): Buckets rows per build/append, one file each, and compaction
    * folds the count files back to one (sums are associative). */
  val Model: graft.Artifact = graft.Artifact("graft_dsirmodel", ModelVersion,
    modelCounts, graft.Artifact.Coalesced(1, 1),
    _.groupBy("bucket").agg(sum(col("t")).as("t"), sum(col("q")).as("q")))

  /** Fresh read of the materialized model (ensured on first call) — each
    * call lists the artifact anew, so it sees appended fit batches. */
  def modelOf(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.parquet(spark,
      graft.Materialize.ensure(spark, Model, dir, graft.Tables.documents(spark, dir)))

  /** Quantized ratio table from the (possibly multi-batch) count
    * artifact: fold additive rows by bucket, then the same window/ratio
    * arithmetic as the inline fit — ≤2·Buckets rows of work, free at any
    * corpus size, bit-identical to fitting inline. */
  private def modelRatio(model: DataFrame): DataFrame =
    model.groupBy("bucket")
      .agg(sum(col("t")).as("t"), sum(col("q")).as("q"))
      .withColumn("gf", expr(
        s"($Scale * (sum(q) OVER () + $Buckets)) div (sum(t) OVER () + $Buckets)"))
      .select(col("bucket"), expr("((t + 1) * gf) div (q + 1)").as("r"))

  /** Score ARBITRARY documents (doc_id, text) against a materialized fit
    * model — the serving/streaming core: NO fit derivation in this plan
    * (the corpus is scanned once for grams, the ratio table broadcasts);
    * the dense model means the gram join never drops a row. One output
    * row per input doc (zero-gram docs score 0 via the roster join). */
  def dsirScoreOver(docs: DataFrame, model: => DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), explode(gramBuckets(col("text"))).as("bucket"))
    val score = grams.join(broadcast(modelRatio(model)), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("r")).as("score_sum"))
    docs.select(col("doc_id"))
      .join(score, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score_sum"), lit(0L)).as("score_sum"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          expr("score_sum div n_grams")).otherwise(lit(0L)).as("score_mean"))
  }

  /** The indexed twin of [[dsirWeights]]: IDENTICAL output (one oracle
    * gates both), but the fit comes from the materialized count artifact
    * — the serving shape: a scoring pass never re-fits the model. */
  def dsirWeightsIndexed(spark: SparkSession, dir: String): DataFrame = {
    val tgt = col("source").isin(TargetSources: _*)
    val pool = graft.Tables.documents(spark, dir)
      .filter(!(tgt && pmod(col("doc_id"), lit(2L)) === 0))
    pool.select(col("doc_id"), tgt.as("held_out_target"))
      .join(dsirScoreOver(pool, modelOf(spark, dir)), "doc_id")
      .select(col("doc_id"), col("held_out_target"), col("n_grams"),
        col("score_sum"), col("score_mean"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- oracle

  private def weightsSql: String = {
    val toks = OracleSql.tokens("lower(text)")
    val win2 = OracleSql.tokenWindows("tk", 2)
    val ph = OracleSql.polyHash("gram")
    val tgtIn = TargetSources.map(s => s"'$s'").mkString("(", ", ", ")")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, (source IN $tgtIn) AS tgt_dom,
       |         (source IN $tgtIn AND doc_id % 2 = 0) AS fit,
       |         $toks AS tk
       |  FROM documents),
       |bkt AS MATERIALIZED (
       |  SELECT doc_id, fit, tgt_dom, ($ph) % ${Buckets} AS bucket
       |  FROM (SELECT doc_id, fit, tgt_dom,
       |               unnest(list_concat(tk, $win2)) AS gram FROM tok)),
       |stats AS MATERIALIZED (
       |  SELECT bucket,
       |         sum(CASE WHEN fit THEN 1 ELSE 0 END) AS t,
       |         sum(CASE WHEN NOT fit THEN 1 ELSE 0 END) AS q
       |  FROM bkt GROUP BY bucket),
       |gfac AS (SELECT ((${Scale}::BIGINT * (sum(q) + ${Buckets}))
       |                 // (sum(t) + ${Buckets})) AS gf FROM stats),
       |ratio AS MATERIALIZED (
       |  SELECT bucket, (((t + 1) * gf) // (q + 1)) AS r FROM stats, gfac),
       |score AS MATERIALIZED (
       |  SELECT b.doc_id, count(*) AS n_grams, sum(r.r) AS score_sum
       |  FROM bkt b JOIN ratio r USING (bucket)
       |  WHERE NOT b.fit GROUP BY b.doc_id),
       |pool AS (
       |  SELECT t.doc_id, t.tgt_dom AS held_out_target,
       |         coalesce(s.n_grams, 0)::BIGINT AS n_grams,
       |         coalesce(s.score_sum, 0)::BIGINT AS score_sum,
       |         (CASE WHEN coalesce(s.n_grams, 0) > 0
       |               THEN s.score_sum // s.n_grams ELSE 0 END)::BIGINT
       |           AS score_mean
       |  FROM tok t LEFT JOIN score s ON t.doc_id = s.doc_id
       |  WHERE NOT t.fit)""".stripMargin
  }

  def dsirWeightsOracle: String =
    s"""$weightsSql
       |SELECT doc_id, held_out_target, n_grams, score_sum, score_mean
       |FROM pool ORDER BY doc_id""".stripMargin

  def dsirTopKOracle(k: Int = TopK): String =
    s"""$weightsSql
       |SELECT doc_id, held_out_target, score_mean
       |FROM pool ORDER BY score_mean DESC, doc_id LIMIT $k""".stripMargin
}
