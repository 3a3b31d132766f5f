package graft

import graft.operators.LmQuality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** LM-fluency discrimination on a CRAFTED corpus. The oracle gates the
  * arithmetic of `lm_score` on the synthetic corpus (where every doc
  * draws one word distribution, so scores cluster); THIS pins the
  * semantics the filter exists for — text resembling the reference slice
  * must outscore gibberish — plus the hand-computed smoothing floors. */
class LmQualitySpec extends AnyFunSuite with BeforeAndAfterAll {
  import LmQualitySpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("lm-quality-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // Reference slice speaks one fluent pattern; scored docs range from
  // verbatim-fluent through mixed to fully out-of-vocabulary gibberish.
  private def ref() = {
    import spark.implicits._
    Seq(
      (100L, "the cat sat on the mat"),
      (101L, "the cat sat on the rug"),
      (102L, "the dog sat on the mat")
    ).toDF("doc_id", "text")
  }

  private def scored() = {
    import spark.implicits._
    Seq(
      (1L, "the cat sat on the mat"),     // verbatim-fluent
      (2L, "the cat sat on the rug"),     // fluent
      (3L, "the cat zzz qqq vvv www"),    // mixed: one in-model bigram
      (4L, "xx yy zz qq ww vv")           // pure gibberish, OOV contexts
    ).toDF("doc_id", "text")
  }

  private def scores(): Map[Long, Double] =
    lmScoreOver(scored(), ref()).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap

  test("fluency order: verbatim > fluent > mixed > gibberish") {
    val s = scores()
    assert(s.keySet == Set(1L, 2L, 3L, 4L))
    assert(s(1L) > s(2L) && s(2L) > s(3L) && s(3L) > s(4L),
      s"expected monotone fluency order, got $s")
  }

  test("gibberish sits at the smoothing floor, fluent text far above it") {
    val s = scores()
    // Reference vocabulary: the, cat, sat, on, mat, rug, dog → V = 7.
    // A fully-OOV bigram scores floor(Quant·1/(0+7)) / Quant ≈ 1/7.
    val floorP = (LmQuality.Quant / 7L).toDouble / LmQuality.Quant.toDouble
    assert(math.abs(s(4L) - floorP) < 1e-9,
      s"pure-OOV doc must score exactly the 1/V floor: ${s(4L)} vs $floorP")
    assert(s(1L) > 2 * floorP, s"fluent text must clear the floor: $s")
  }

  test("verbatim doc's score is the hand-computed smoothed mean") {
    // Bigrams of doc 1 with train counts: "the cat"=2 of c(the·)=5? —
    // train bigrams: each ref doc has 5 bigrams, 15 total.
    // c(the cat)=2, c(the·)=6; c(cat sat)=2, c(cat·)=2; c(sat on)=3,
    // c(sat·)=3; c(on the)=3, c(on·)=3; c(the mat)=2, c(the·)=6. V=7.
    val q = LmQuality.Quant
    val expected = Seq(
      (2L + 1, 6L + 7), (2L + 1, 2L + 7), (3L + 1, 3L + 7),
      (3L + 1, 3L + 7), (2L + 1, 6L + 7))
      .map { case (n, d) => q * n / d }.sum.toDouble / (5.0 * q.toDouble)
    assert(math.abs(scores()(1L) - expected) < 1e-12,
      s"hand-computed mean mismatch: ${scores()(1L)} vs $expected")
  }

  test("empty reference slice scores everything 1.0, never divides by zero") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val s = lmScoreOver(scored(), empty).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // V=0, every count 0 → the greatest(v,1) floor makes every bigram
    // (0+1)/(0+1): the defined everything-is-fluent degenerate
    assert(s.keySet == Set(1L, 2L, 3L, 4L) && s.values.forall(_ == 1.0), s.toString)
  }

  test("gate faces agree: indexed serving equals the inline plan") {
    val dir = "/root/testdata/sf0.001"
    val a = LmQuality.lmScore(spark, dir).collect().toSeq
    val b = LmQuality.lmScoreIndexed(spark, dir).collect().toSeq
    assert(a == b, "inline and artifact-served lm_score must be identical")
    assert(a.nonEmpty)
  }

  test("lm_train is bounded, deterministic, and counts are consistent") {
    val dir = "/root/testdata/sf0.001"
    val rows = LmQuality.lmTrain(spark, dir).collect()
    assert(rows.length <= LmQuality.TrainTopK && rows.nonEmpty)
    // c_uni aggregates c_big over w2: every row's context count must be
    // at least its bigram count
    assert(rows.forall(r => r.getLong(3) >= r.getLong(2)))
    // descending by c_big
    val cs = rows.map(_.getLong(2)).toSeq
    assert(cs == cs.sortBy(-_))
  }
}

object LmQualitySpec {

  /** Scores `docs` under a model trained on `ref` (both raw (doc_id, text)
    * relations), so the discrimination semantics can be pinned on a
    * crafted corpus with an explicit reference slice, independent of the
    * split hash. */
  def lmScoreOver(docs: DataFrame, ref: DataFrame): DataFrame = {
    val (big, uni, v) = LmQuality.trainedOver(LmQuality.tokenize(ref))
    LmQuality.scoreWith(LmQuality.bigrams(LmQuality.tokenize(docs)), big, uni, v)
  }
}
