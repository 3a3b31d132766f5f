package graft.operators

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.oracle.OracleSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained document-quality classifier — the model-based filter stage of a
  * training-data pipeline (the CCNet/GPT-3 practice: a cheap linear
  * classifier over surface features gates the crawl before expensive
  * stages). The corpus ships no organic quality labels, so — exactly like
  * text_pii_mask's decorated PII — a deterministic TEACHER labels each doc
  * on both engines (a fixed linear rule over the real text features plus
  * doc_id-hash noise), and the gate checks that distributed training
  * recovers it: full-batch gradient descent, 8 iterations, measured
  * accuracy 0.85 on the sf0.01 corpus (0.62 base rate).
  *
  * Distributed-training shape (the part that matters at 100 TB):
  *  - features are a narrow one-pass projection, materialized ONCE
  *    (Materialize.ensure — ~4 doubles/doc; the corpus is scanned exactly
  *    once no matter how many iterations follow);
  *  - each iteration is ONE map-side-combinable aggregate over the feature
  *    relation producing 4 longs (the quantized gradient), with the current
  *    weights attached as a broadcast one-row frame — no N×iters shuffle,
  *    no driver-side collect loop, no RDD;
  *  - the whole 8-iteration fold is a single declarative plan (weights_t
  *    is a one-row frame derived from weights_{t-1} × gradient_t × n).
  *
  * Cross-engine exactness: the logistic link is replaced by the rational
  * sigmoid s(z) = 1/2 + z/(2(1+|z|)) — same IEEE ops in the same order on
  * both engines, no exp() whose last ulp differs between libm and the JVM —
  * and per-doc gradient contributions are floor-quantized to integers
  * before the (order-nondeterministic) parallel sum, so every trained
  * weight is bit-identical in Spark and DuckDB (the KMeans.QuantScale
  * technique). Gradient form: g_j = Σ_docs (s(w·x) - y)·x_j, the logistic
  * log-loss gradient with s as the link.
  */
object QualityModel {

  val LrIters = 8
  val LrRate = 3.0
  val LrQuant = 1000000L

  /** Teacher rule: y = [w·(1,x1,x2,x3) + eps > cut] with hash noise
    * eps ∈ [-0.2, 0.2) from doc_id (Knuth multiplicative constant). */
  val TeacherW1 = 2.0; val TeacherW2 = 1.0; val TeacherW3 = -1.5
  val TeacherCut = 1.2
  val NoiseA = 2654435761L; val NoiseMod = 1000L
  /** doc_id is reduced mod this prime BEFORE the Knuth multiply: Spark
    * Long multiplication wraps on overflow (and % can then go negative)
    * while DuckDB RAISES on BIGINT overflow — doc_id ≳ 3.5e9 would crash
    * the oracle or diverge cross-engine. The reduced product is bounded
    * by ~2.7e14, safe on both. */
  val NoisePrime = 100003L
  val NoiseScale = 0.4; val NoiseShift = -0.2

  private def stopEn: Seq[String] = TextAnalysis.Stopwords.head._2

  /** Per-doc features + teacher label, one narrow pass over documents:
    * x1 = length saturation (ntok/50 capped), x2 = stopword-density
    * saturation (ratio×5 capped), x3 = type-token ratio (the repetition
    * signal). Tokenless docs are excluded on both engines. */
  private def features(spark: SparkSession, dir: String): DataFrame =
    featuresOver(Tables.documents(spark, dir))

  /** The same feature projection over an EXPLICIT document batch — the
    * row-local core arriving docs are scored with. */
  private[graft] def featuresOver(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
      .filter(size(col("tk")) > 0)
    val nTok = size(col("tk")).cast("double")
    val stopHits = size(filter(col("tk"),
      t => array_contains(typedLit(stopEn), t))).cast("double")
    val x1 = least(lit(1.0), nTok / 50.0)
    val x2 = least(lit(1.0), stopHits / nTok * 5.0)
    val x3 = size(array_distinct(col("tk"))).cast("double") / nTok
    val eps = (col("doc_id") % NoisePrime * NoiseA % NoiseMod).cast("double") /
      NoiseMod.toDouble * NoiseScale + NoiseShift
    val teacher = lit(TeacherW1) * x1 + lit(TeacherW2) * x2 + lit(TeacherW3) * x3 + eps
    base.select(col("doc_id"), x1.as("x1"), x2.as("x2"), x3.as("x3"),
      when(teacher > TeacherCut, 1.0).otherwise(0.0).as("y"))
  }

  /** Feature relation, materialized write-once: the corpus scan happens
    * once; the training iterations read the narrow artifact. */
  private def featuresMaterialized(spark: SparkSession, dir: String): DataFrame = {
    // version 2: teacher noise reduces doc_id mod NoisePrime pre-multiply
    val path = graft.Materialize.ensure(spark, "graft_lrfeat", dir, version = 2) { p =>
      features(spark, dir).write.mode("overwrite").parquet(p)
    }
    Tables.parquet(spark, path)
  }

  private def z(w: String => Column): Column =
    w("w0") + w("w1") * col("x1") + w("w2") * col("x2") + w("w3") * col("x3")

  /** Rational sigmoid — exact IEEE arithmetic, no transcendental. */
  private def sig(zc: Column): Column =
    lit(0.5) + zc / (lit(2.0) * (lit(1.0) + abs(zc)))

  /** One-row weight frame after `iters` full-batch GD steps. */
  private def trainWeights(spark: SparkSession, dir: String, iters: Int): DataFrame = {
    val f = featuresMaterialized(spark, dir)
    val n = f.agg(count(lit(1)).as("n"))
    val w0 = spark.range(1).select(lit(0.0).as("w0"), lit(0.0).as("w1"),
      lit(0.0).as("w2"), lit(0.0).as("w3"))
    (1 to iters).foldLeft(w0) { (w, _) =>
      val s = sig(z(name => col(name)))
      def g(x: Column, nm: String) =
        sum(floor((s - col("y")) * x * LrQuant.toDouble).cast("long")).as(nm)
      val grad = f.crossJoin(broadcast(w))
        .agg(g(lit(1.0), "g0"), g(col("x1"), "g1"), g(col("x2"), "g2"),
          g(col("x3"), "g3"), first(col("w0")).as("pw0"),
          first(col("w1")).as("pw1"), first(col("w2")).as("pw2"),
          first(col("w3")).as("pw3"))
      def upd(pw: String, gc: String) =
        (col(pw) - lit(LrRate) * col(gc).cast("double") /
          (col("n").cast("double") * LrQuant.toDouble))
      grad.crossJoin(broadcast(n))
        .select(upd("pw0", "g0").as("w0"), upd("pw1", "g1").as("w1"),
          upd("pw2", "g2").as("w2"), upd("pw3", "g3").as("w3"))
    }
  }

  /** Gate query: the trained weight vector in long form. */
  def lrTrain(spark: SparkSession, dir: String): DataFrame =
    trainWeights(spark, dir, LrIters)
      .select(posexplode(array(col("w0"), col("w1"), col("w2"), col("w3")))
        .as(Seq("feature_idx", "weight")))
      .select(col("feature_idx").cast("long").as("feature_idx"), col("weight"))
      .orderBy(col("feature_idx"))

  /** Gate query: per-doc score under the trained model + teacher label +
    * prediction hit — the per-row face whose aggregate is the measured
    * accuracy. Scores ship unrounded (exact same arithmetic both
    * engines). */
  def lrScore(spark: SparkSession, dir: String): DataFrame =
    scoreWith(featuresMaterialized(spark, dir), trainWeights(spark, dir, LrIters))

  /** Score a feature relation under a one-row weight frame: map-only plus
    * the output ordering. */
  private[graft] def scoreWith(f: DataFrame, w: DataFrame): DataFrame =
    f.crossJoin(broadcast(w))
      .select(col("doc_id"), col("y").as("label"),
        sig(z(name => col(name))).as("score"))
      .withColumn("pred", (col("score") >= 0.5).cast("boolean"))
      .withColumn("hit", col("pred") === (col("label") === 1.0))
      .orderBy(col("doc_id"))

  /** Trained weights, materialized write-once (`graft_lrweights`): at
    * scale TRAINING is the ingest-time job; a scoring pass must read a
    * model, not re-run [[LrIters]] gradient aggregates. GD is NOT
    * additive, so unlike the DSIR count model there is no append face —
    * a corpus change is staleness and `ensure` refits. */
  def ensureWeights(spark: SparkSession, dir: String, version: Int = 1): String =
    graft.Materialize.ensure(spark, "graft_lrweights", dir, version) { p =>
      trainWeights(spark, dir, LrIters)
        .coalesce(1).write.mode("overwrite").parquet(p)
    }

  /** Fresh read of the weight artifact — each call lists it anew, so a
    * refit is picked up by the next call. */
  def weightsOf(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, ensureWeights(spark, dir))

  /** The serving twin of [[lrScore]]: IDENTICAL output (one oracle gates
    * both), weights read from the materialized artifact — the scoring
    * plan is one map-only pass over the feature relation. */
  def lrScoreIndexed(spark: SparkSession, dir: String): DataFrame =
    scoreWith(featuresMaterialized(spark, dir), weightsOf(spark, dir))

  // ------------------------------------------------------------- oracle

  /** CTE chain `f, n, w0 … w{iters}` reproducing the training fold.
    * Every multiply-referenced CTE is AS MATERIALIZED — DuckDB's default
    * inlining re-expands w_{t-1} for both of its consumers (g_t and w_t)
    * and the chain goes exponential in iters (measured: runtime doubles
    * per GD iteration inlined; flat materialized). Same lesson as
    * BpeTrainer.trainCtes. */
  def trainCtes(iters: Int): String = {
    val toks = OracleSql.tokens("lower(text)")
    val en = stopEn.map(w => s"'$w'").mkString("[", ", ", "]")
    val x1 = "least(1.0, len(tk)::DOUBLE / 50.0)"
    val x2 = s"least(1.0, (len(list_filter(tk, t -> list_contains($en, t)))::DOUBLE / len(tk)::DOUBLE) * 5.0)"
    val x3 = "len(list_distinct(tk))::DOUBLE / len(tk)::DOUBLE"
    val eps = s"(((doc_id % $NoisePrime) * $NoiseA) % $NoiseMod)::DOUBLE / $NoiseMod.0 * $NoiseScale + $NoiseShift"
    val f =
      s"""tok AS (SELECT doc_id, $toks AS tk FROM documents),
         |f AS MATERIALIZED (SELECT doc_id, $x1 AS x1, $x2 AS x2, $x3 AS x3,
         |        CASE WHEN $TeacherW1 * $x1 + $TeacherW2 * $x2
         |                  + ($TeacherW3) * ($x3) + $eps > $TeacherCut
         |             THEN 1.0 ELSE 0.0 END::DOUBLE AS y
         |      FROM tok WHERE len(tk) > 0),
         |n AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM f),
         |w0 AS MATERIALIZED (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""".stripMargin
    val steps = (1 to iters).map { t =>
      val zs = "(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3)"
      val s = s"(0.5 + $zs / (2.0 * (1.0 + abs($zs))))"
      def g(x: String) = s"sum(floor(($s - f.y) * $x * $LrQuant.0)::BIGINT)"
      def u(pw: String, gc: String) =
        s"w.$pw - $LrRate * g.$gc::DOUBLE / (n.n::DOUBLE * $LrQuant.0)"
      s"""g$t AS MATERIALIZED (SELECT ${g("1.0")} AS g0, ${g("f.x1")} AS g1,
         |              ${g("f.x2")} AS g2, ${g("f.x3")} AS g3
         |       FROM f CROSS JOIN w${t - 1} w),
         |w$t AS MATERIALIZED (SELECT ${u("w0", "g0")} AS w0, ${u("w1", "g1")} AS w1,
         |               ${u("w2", "g2")} AS w2, ${u("w3", "g3")} AS w3
         |        FROM w${t - 1} w CROSS JOIN g$t g CROSS JOIN n)""".stripMargin
    }
    (f +: steps).mkString(",\n")
  }

  def lrTrainOracle: String =
    s"""WITH ${trainCtes(LrIters)}
       |SELECT unnest(range(0, 4)) AS feature_idx,
       |       unnest([w0, w1, w2, w3]) AS weight
       |FROM w$LrIters
       |ORDER BY feature_idx""".stripMargin

  def lrScoreOracle: String = {
    val zs = "(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3)"
    val s = s"(0.5 + $zs / (2.0 * (1.0 + abs($zs))))"
    s"""WITH ${trainCtes(LrIters)}
       |SELECT f.doc_id, f.y AS label, $s AS score,
       |       $s >= 0.5 AS pred,
       |       ($s >= 0.5) = (f.y = 1.0) AS hit
       |FROM f CROSS JOIN w$LrIters w
       |ORDER BY f.doc_id""".stripMargin
  }
}
