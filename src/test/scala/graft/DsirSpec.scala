package graft

import graft.functions.TextFunctions
import graft.operators.Dsir
import org.apache.spark.sql.{Column, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** DSIR discrimination on a CRAFTED corpus. The gate corpus has no domain
  * axis (every synthetic source draws one word distribution), so the
  * oracle gates the arithmetic only; THIS pins the semantics the operator
  * exists for — documents resembling the fit slice must outrank the pool
  * — on a corpus where the target vocabulary is genuinely skewed. */
class DsirSpec extends AnyFunSuite with BeforeAndAfterAll {
  import DsirSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("dsir-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // Target domain (src0) speaks {alpha, beta, gamma}; the pool (srcP)
  // speaks {delta, epsilon, zeta}. Even-doc_id src0 docs are the FIT
  // slice; odd ones are planted held-out positives. doc 20 mixes.
  private def corpus() = {
    import spark.implicits._
    Seq(
      (0L, "src0", "alpha beta gamma alpha beta"),
      (2L, "src0", "beta alpha gamma gamma beta"),
      (4L, "src0", "gamma alpha beta alpha gamma"),
      (1L, "src0", "alpha beta gamma beta alpha"),   // held-out target
      (3L, "src0", "gamma beta alpha alpha beta"),   // held-out target
      (10L, "srcP", "delta epsilon zeta delta zeta"),
      (11L, "srcP", "zeta delta epsilon epsilon delta"),
      (12L, "srcP", "epsilon zeta delta zeta epsilon"),
      (20L, "srcP", "alpha beta delta epsilon zeta") // mixed
    ).toDF("doc_id", "source", "text")
  }

  test("held-out target docs outrank the pool; mixed doc sits between") {
    val w = Dsir.dsirWeightsOver(corpus()).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    // fit docs are not scored; everything else is
    assert(w.keySet == Set(1L, 3L, 10L, 11L, 12L, 20L))
    val heldOut = Set(1L, 3L).map(w)
    val pool = Set(10L, 11L, 12L).map(w)
    assert(heldOut.min > w(20L),
      s"held-out targets must outrank the mixed doc: $w")
    assert(w(20L) > pool.max,
      s"the mixed doc must outrank the pure pool: $w")
  }

  test("selection order: planted targets first, then mixed, then pool") {
    val ranked = Dsir.dsirWeightsOver(corpus())
      .orderBy(org.apache.spark.sql.functions.col("score_mean").desc,
        org.apache.spark.sql.functions.col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ranked.take(2).toSet == Set(1L, 3L), s"order: $ranked")
    assert(ranked(2) == 20L, s"order: $ranked")
  }

  test("resampling keeps target-like docs at a strictly higher rate") {
    // crafted corpus again, many docs per class so rates are observable:
    // 40 pool + 20 held-out target (even target ids are the fit slice)
    import spark.implicits._
    val fit = (0 until 20).map(i => (i * 2L, "src0", "alpha beta gamma alpha"))
    val held = (0 until 20).map(i => (i * 2 + 1L, "src0", "alpha beta gamma beta"))
    val poolD = (0 until 40).map(i => (1000L + i, "srcP", "delta epsilon zeta delta"))
    val docs = (fit ++ held ++ poolD).toDF("doc_id", "source", "text")
    val w = Dsir.dsirWeightsOver(docs)
      .withColumn("keep_permille", org.apache.spark.sql.functions.least(
        org.apache.spark.sql.functions.lit(1000L),
        org.apache.spark.sql.functions.expr(s"score_mean div ${Dsir.ResampleDiv}")))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(5))).toSeq
    val heldP = w.filter(_._2).map(_._3)
    val poolP = w.filter(!_._2).map(_._3)
    assert(heldP.nonEmpty && poolP.nonEmpty)
    // target-resembling docs carry a strictly higher keep propensity
    assert(heldP.min > poolP.max,
      s"held-out propensities $heldP not above pool $poolP")
    // and the pool is neither kept with certainty nor dropped outright
    assert(poolP.max < 1000L && poolP.min > 0L, poolP.toString)
  }

  test("native gram-bucket kernel == composed twin, order included") {
    import org.apache.spark.sql.functions.col
    val texts = Seq("alpha beta gamma", "one", "", "   ", "a  b\tc",
      "Mixed CASE Words here", "café au lait", "x " + ("y " * 200) + "z")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    import spark.implicits._
    val df = texts.toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
      graft.functions.GramBucketsExpr.gramBucketsF(
        org.apache.spark.sql.functions.lower(col("text")), Dsir.Buckets).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val composed = df.select(col("doc_id"),
      gramBucketsComposed(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(native == composed, s"native=$native\ncomposed=$composed")
    // gate corpus too: every doc agrees at sf0.001
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val both = d.select(
      graft.functions.GramBucketsExpr.gramBucketsF(
        org.apache.spark.sql.functions.lower(col("text")), Dsir.Buckets).as("n"),
      gramBucketsComposed(col("text")).as("c"))
      .collect()
    assert(both.nonEmpty && both.forall(r =>
      r.getSeq[Long](0).toList == r.getSeq[Long](1).toList))
  }

  test("gram accounting: unigrams + bigrams, empty text scores zero") {
    import spark.implicits._
    val docs = Seq(
      (0L, "src0", "alpha beta"),        // fit
      (1L, "src0", "alpha beta gamma"),  // 3 uni + 2 bi = 5 grams
      (11L, "srcP", "   ")               // blank → 0 grams, score 0
    ).toDF("doc_id", "source", "text")
    val rows = Dsir.dsirWeightsOver(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(rows(1L)._1 == 5L, s"gram count: $rows")
    assert(rows(11L) == ((0L, 0L)), s"blank doc: $rows")
  }
}

object DsirSpec {
  import org.apache.spark.sql.functions.{concat, lit, lower, pmod, transform}

  /** Composed-HOF reference form of the native gram-bucket kernel
    * (interpreted), checked bit-equal to it, order included. */
  def gramBucketsComposed(text: Column): Column = {
    val tk = TextFunctions.tokens(lower(text))
    transform(concat(tk, TextFunctions.tokenWindows(tk, 2)),
      g => pmod(TextFunctions.polyHash(g), lit(Dsir.Buckets)))
  }
}
