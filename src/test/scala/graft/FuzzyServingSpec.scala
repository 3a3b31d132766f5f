package graft

import java.nio.file.Files

import graft.functions.DamerauLevenshtein.geoDamerauLevenshtein
import graft.functions.TextFunctions.{charNgrams, entityFuzzyScore, geoSearchScore}
import graft.operators.FuzzySearch
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import SparkJobs.jobsOf

/** A fuzzy request caps its hits on the executors, fetches only the capped
  * records by id and ranks them on the driver: three Spark jobs per
  * request, and rows equal to the lazy single-plan tail it replaced — also
  * where the 500-cap binds (sf0.1: 20,000 parts, most queries hit
  * thousands of ids). */
class FuzzyServingSpec extends AnyFunSuite with BeforeAndAfterAll {
  import FuzzyServingSpec._

  private val dir = "/root/testdata/sf0.1"
  private val artDir = Files.createTempDirectory("graft-fuzzy-artifacts").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.graft.materialize.dir", artDir)
    .appName("fuzzy-serving-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Name typos of every 997th part (one dropped letter, one swap), two
    * common words, a query under 3 characters and one with no hits. */
  private lazy val queries: Seq[String] = {
    val names = FuzzySearch.corpus(spark, dir)
      .filter(col("id") % 997L === 1L).orderBy(col("id"))
      .select(col("value")).collect().map(_.getString(0)).toSeq
    val typos = names.zipWithIndex.map { case (n, i) =>
      val w = n.split(" ").take(2).mkString(" ")
      if (i % 2 == 0) w.patch(3, "", 1) else w.patch(2, w.slice(3, 4) + w.slice(2, 3), 2)
    }
    typos ++ Seq("smal widget", "green", "almond", "xq", "qqzzxxjj")
  }

  /** Per query, the hit count of every candidate id, best first. */
  private def hitCounts(q: String): Seq[Long] = {
    val grams = FuzzySearch.queryTrigrams(FuzzySearch.cleanQuery(q)).distinct
    FuzzySearch.corpus(spark, dir)
      .select(col("id"), explode(charNgrams(col("clean_value"), 3)).as("ngram"))
      .filter(col("ngram").isin(grams: _*))
      .groupBy(col("id")).agg(count(lit(1)).as("h"))
      .orderBy(col("h").desc).collect().map(_.getLong(1)).toSeq
  }

  test("a warm request runs at most 3 Spark jobs, indexed and postal") {
    def indexed() = rows(FuzzySearch.fuzzySearchIndexed(spark, dir, "smal widget", 20))
    def postal() = rows(FuzzySearch.fuzzySearch(spark, dir, "10750", 15,
      corpusOf = FuzzySearch.zipCorpus))
    assert(indexed().nonEmpty && postal().nonEmpty) // cold: builds the postings
    val jobs = Seq(jobsOf(spark)(indexed()), jobsOf(spark)(postal()))
    assert(jobs.forall(_ <= 3), s"indexed, postal ran $jobs jobs")
  }

  test("both faces == the lazy tail where the 500-cap binds, ties and empty queries included") {
    val counts = queries.map(q => q -> hitCounts(q)).toMap
    // the fixture must exercise the cap: > 500 ids hit, and hit counts tied
    // across the cut, so the id tie-break decides which records are fetched
    assert(counts.values.count(_.size > FuzzySearch.DefaultCap) >= 10)
    assert(counts.values.exists(h => h.size > FuzzySearch.DefaultCap &&
      h(FuzzySearch.DefaultCap - 1) == h(FuzzySearch.DefaultCap)))
    assert(counts("xq").isEmpty && counts("qqzzxxjj").isEmpty)
    assert(queries.size >= 20)
    queries.foreach { q =>
      val want = rows(lazyFuzzySearch(spark, dir, q, 20))
      assert(rows(FuzzySearch.fuzzySearch(spark, dir, q, 20)) == want, s"inline, query '$q'")
      assert(rows(FuzzySearch.fuzzySearchIndexed(spark, dir, q, 20)) == want, s"indexed, query '$q'")
      assert(want.nonEmpty == counts(q).nonEmpty, s"query '$q'")
    }
  }

  test("postal and filtered requests == the lazy tail where the 500-cap binds") {
    val cases = Seq("10750" -> Nil, "1075" -> Nil, "23456" -> Nil, "99999" -> Nil,
      "10750" -> Seq("country" -> "US"), "3141" -> Seq("geo_type" -> "ZipCode"))
    cases.foreach { case (q, filters) =>
      val want = rows(lazyFuzzySearch(spark, dir, q, 15, corpusOf = FuzzySearch.zipCorpus,
        filters = filters))
      assert(want.nonEmpty, s"query '$q' $filters")
      assert(rows(FuzzySearch.fuzzySearch(spark, dir, q, 15, corpusOf = FuzzySearch.zipCorpus,
        filters = filters)) == want, s"query '$q' $filters")
    }
  }
}

object FuzzyServingSpec {

  /** The single-plan tail `fuzzySearch` ran before its hits, records and
    * rank steps were split: the capped hits joined back to the whole
    * corpus, scored lazily (`geoSearchScore` computing its own base), a
    * window dedup and a `TakeOrderedAndProject` top-k. */
  def lazyFuzzySearch(spark: SparkSession, dir: String, query: String,
                      numResults: Int, cap: Int = FuzzySearch.DefaultCap,
                      corpusOf: (SparkSession, String) => DataFrame = FuzzySearch.corpus,
                      filters: Seq[(String, Any)] = Nil): DataFrame = {
    val q = FuzzySearch.cleanQuery(query)
    val qGramSet = FuzzySearch.queryTrigrams(q).distinct
    val c = corpusOf(spark, dir)
    val qdf = spark.createDataFrame(qGramSet.map(Tuple1(_))).toDF("ngram")
    val postings = c.select(col("id"), explode(charNgrams(col("clean_value"), 3)).as("ngram"))
    val hits = postings.join(broadcast(qdf), "ngram")
      .groupBy(col("id")).agg(count(lit(1)).as("ngram_hits"))
    val capped = hits.orderBy(col("ngram_hits").desc, col("id"))
      .limit(math.max(numResults, cap))
    val filterOk = filters.map { case (k, v) => col(k) === lit(v) }
      .foldLeft(lit(true))(_ && _)
    val qLit = lit(q)
    val scored = capped.join(c, "id").filter(filterOk)
      .withColumn("efs_raw", entityFuzzyScore(qLit, col("clean_value")))
      .withColumn("distance", geoDamerauLevenshtein(qLit, col("clean_value")).cast("long"))
      .withColumn("ngram_similarity", round(col("efs_raw"), 6))
      .withColumn("score", round(geoSearchScore(qLit, col("clean_value"), col("population")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("clean_value"))
      .orderBy(col("score").desc, col("id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id"), col("value"), col("clean_value"), col("distance"),
        col("ngram_similarity"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(numResults)
  }
}
