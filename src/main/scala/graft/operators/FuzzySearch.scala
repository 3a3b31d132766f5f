package graft.operators

import graft.Tables
import graft.functions.DamerauLevenshtein._
import graft.functions.TextFunctions._
import graft.oracle.OracleSql
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Auto-complete fuzzy search — the reference's flagship pipeline
  * (geo_manager.py:525-619). Every face runs the same four steps:
  *
  *   1. hits: query trigrams ∩ trigram postings of the corpus (derived
  *      inline or read from the materialized index) → count per id, the
  *      shared-trigram hits;
  *   2. cap: the top max(k, 500) ids by (hits desc, id) — the 500-cap
  *      (geo_manager.py:554/585 — observable semantics, comments at
  *      :552/:583);
  *   3. score: DL distance, tversky+prefix similarity and the
  *      population-ranked score, one projection ([[scoreCols]]);
  *   4. rank: best score per clean_value (deterministic version of the
  *      reference's dict-keying, geo_manager.py:587-588), then top-k.
  *
  * The single-query faces filter postings to the query's trigrams with an
  * `isin`, cap on the executors and hand only the capped ids to the
  * driver; one job fetches and scores those records (Catalyst pushes
  * `id IN (…)` below the derivation into the scan, so only the ≤ cap
  * fetched names are cleaned) and the driver ranks them — as the
  * reference keeps the top 500 ids and fetches only those records from a
  * dict (geo_manager.py:582-619). The batch faces (one row per query,
  * key `qid`) and the partitioned faces (key `partition`) run the same
  * steps per key in one plan: the cap, the dedup and the top-k are rank
  * windows over the key ([[capHits]], [[rankKeyed]]). Every oracle runs
  * the same score-and-rank tail in SQL ([[rankSql]]).
  *
  * Corpus is the `part` table dressed as shapes (deterministic population),
  * so DuckDB can oracle the whole pipeline.
  */
object FuzzySearch {

  val DefaultCap = 500

  /** Scala-side mirror of TextFunctions.cleanEntity for the literal query. */
  def cleanQuery(q: String): String =
    q.replaceAll("[^0-9a-zA-Z ]+", "").toLowerCase

  /** Scala-side trigrams WITH multiplicity (fuzzy.py:5-6: len<3 → none). */
  def queryTrigrams(q: String): Seq[String] =
    if (q.length < 3) Seq.empty else q.sliding(3).toSeq

  /** Fuzzy corpus: part names with a deterministic population column. */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey").as("id"),
      col("p_name").as("value"),
      cleanEntity(col("p_name")).as("clean_value"),
      (col("p_partkey") * 37L % 1000000L).as("population"))

  val corpusCte: String =
    s"""SELECT p_partkey AS id, p_name AS value,
       |       ${OracleSql.clean("p_name")} AS clean_value,
       |       p_partkey * 37 % 1000000 AS population
       |FROM part""".stripMargin

  /** Zip-shaped fuzzy corpus — the reference's own index values are
    * `"71330, US"`-style zip strings (geo_manager.py:531-540 docstring,
    * tests/fetch.py:15 `us__60606`). Derived from the shape table's
    * zip_code so a digits-only query exercises the postal scoring branch
    * (geo_manager.py:493-495) end-to-end through the oracle gate. Carries
    * `country`/`geo_type` as extra-entity fields (add_entity's
    * extra_entity dict, geo_manager.py:451-460) for result filters. */
  def zipCorpus(spark: SparkSession, dir: String): DataFrame =
    GeoShapes.shapes(spark, dir).select(
      col("id"),
      concat(col("zip_code"), lit(", "), col("country")).as("value"),
      cleanEntity(concat(col("zip_code"), lit(", "), col("country"))).as("clean_value"),
      col("population"), col("country"), col("geo_type"))

  val zipCorpusCte: String =
    s"""SELECT id, zip_code || ', ' || country AS value,
       |       ${OracleSql.clean("zip_code || ', ' || country")} AS clean_value,
       |       population, country, geo_type
       |FROM (${GeoShapes.oracleCte})""".stripMargin

  // ------------------------------------------------------- the one pipeline

  /** Inline trigram postings of a corpus: one (id, `keys`…, ngram) row per
    * trigram OCCURRENCE in the record (add_entity appends per occurrence,
    * geo_manager.py:470-476). */
  private def inlinePostings(c: DataFrame, keys: String*): DataFrame =
    c.select(("id" +: keys).map(col) :+
      explode(charNgrams(col("clean_value"), 3)).as("ngram"): _*)

  /** Hits of ONE query, counted per (id, `keys`…): postings filtered to the
    * query's DEDUPED trigrams (dict-comprehension keys,
    * geo_manager.py:582) by an `isin`, which an index scan takes as a
    * pushed In(ngram) — so ngram_hits == Counter over flattened posting
    * lists (geo_manager.py:584-586). */
  private def queryHits(postings: DataFrame, q: String, keys: String*): DataFrame =
    postings.filter(col("ngram").isin(queryTrigrams(q).distinct: _*))
      .groupBy(("id" +: keys).map(col): _*).agg(count(lit(1)).as("ngram_hits"))

  /** The reference's 500-candidate order (geo_manager.py:553-555). */
  private val capOrder: Seq[Column] = Seq(col("ngram_hits").desc, col("id"))

  private def capLimit(numResults: Int): Int = math.max(numResults, DefaultCap)

  /** The 500-cap per `key` (`qid` or `partition`), a rank window that
    * plans map-side as WindowGroupLimit. */
  private def capHits(hits: DataFrame, key: String, numResults: Int): DataFrame =
    hits.withColumn("crn", row_number().over(Window.partitionBy(col(key)).orderBy(capOrder: _*)))
      .filter(col("crn") <= capLimit(numResults)).drop("crn")

  /** The scoring projection every face applies after its cap: DL distance,
    * tversky+prefix similarity, population-ranked score, against the query
    * `q` (a literal or a per-row column). `entityFuzzyScore` is computed
    * once per row: `score` reads `efs_raw` unless the query is all digits,
    * which scores against the source's first space-token
    * (geo_manager.py:493-495). The postal test is a Column, so it
    * constant-folds away for a literal query and branches per row in a
    * batch. */
  private def scoreCols(df: DataFrame, q: Column): DataFrame = {
    val base = when(q.rlike("^[0-9]+$"),
      entityFuzzyScore(q, split(col("clean_value"), " ").getItem(0)))
      .otherwise(col("efs_raw"))
    df.withColumn("efs_raw", entityFuzzyScore(q, col("clean_value")))
      .withColumn("distance", geoDamerauLevenshtein(q, col("clean_value")).cast("long"))
      .withColumn("ngram_similarity", round(col("efs_raw"), 6))
      .withColumn("score", round(geoSearchScore(base, col("population")), 6))
  }

  private val resultCols = Seq("id", "value", "clean_value", "distance",
    "ngram_similarity", "score")

  /** The keyed rank tail: best score (then lowest id) per (`key`,
    * clean_value) — replaces the reference's unspecified dict-insertion
    * "last wins" (SURVEY.md §2.6) — then the top-k per key, ordered. */
  private def rankKeyed(scored: DataFrame, key: String, numResults: Int): DataFrame = {
    val order = Seq(col("score").desc, col("id"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(key), col("clean_value")).orderBy(order: _*)))
      .filter(col("rn") === 1)
      .withColumn("rk", row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)))
      .filter(col("rk") <= numResults)
      .select((key +: resultCols).map(col): _*)
      .orderBy(col(key) +: order: _*)
  }

  def fuzzySearch(spark: SparkSession, dir: String, query: String,
                  numResults: Int,
                  corpusOf: (SparkSession, String) => DataFrame = corpus,
                  filters: Seq[(String, Any)] = Nil): DataFrame = {
    val q = cleanQuery(query)
    val c = corpusOf(spark, dir)
    rankCandidates(spark, c, q, queryHits(inlinePostings(c), q), numResults, filters)
  }

  /** The posting index (`graft_postings`, at scale built at ingest):
    * multiplicity-preserving (ngram, id) pairs clustered by ngram into 32
    * files, sorted within files so scan stats are tight. Appendable —
    * `add_entity` (geo_manager.py:451-476) against the materialized
    * layout — because the explode is row-local: pairs(corpus ∪ batch) ==
    * pairs(corpus) ∪ pairs(batch) (IncrementalIndexSpec pins append ==
    * rebuild and compact == rebuild). */
  val Postings: graft.Artifact = graft.Artifact("graft_postings", 1,
    NgramIndex.postingPairsMulti(_), graft.Artifact.Clustered(Seq("ngram"), Seq("ngram")))

  /** [[Postings]] ensured over `c`; returns the artifact path. */
  def ensurePostingsIndex(spark: SparkSession, dir: String, c: DataFrame): String =
    graft.Materialize.ensure(spark, Postings, dir, c)

  /** Materialized-index fuzzy search: the hits step reads the PRE-BUILT
    * posting pairs (NgramIndex.postingPairsMulti) instead of deriving
    * postings from the corpus per query. The query's trigram set is an
    * `isin` predicate pushed into the parquet scan (PushedFilters:
    * In(ngram, ...)); the cap, score and rank steps are [[fuzzySearch]]'s
    * (OperatorParitySpec pins bit-equal results; the shared oracle gates
    * both). The pushdown prunes almost nothing in today's layout: the
    * pairs are hash-clustered, so each file is one row group whose ngram
    * stats span a wide slice of the gram space, and a request reads nearly
    * every file (SCALE.md, `fuzzy_indexed`). Serves the
    * part-name [[corpus]] only: the posting artifact is keyed by input dir
    * and version, not by corpus. */
  def fuzzySearchIndexed(spark: SparkSession, dir: String, query: String,
                         numResults: Int): DataFrame = {
    val q = cleanQuery(query)
    val c = corpus(spark, dir)
    val path = ensurePostingsIndex(spark, dir, c)
    rankCandidates(spark, c, q, queryHits(Tables.parquet(spark, path), q), numResults)
  }

  /** The single-query cap → fetch → score → rank. The cap runs on the
    * executors and hands the driver at most max(k, 500) ids; one job
    * fetches and scores only those records (none when there are no ids);
    * the dedup and top-k run on the driver over those rows, ordered as
    * [[rankKeyed]] orders them, and return a local relation. `filters`
    * replicate the reference's ORDER: applied to the candidate records
    * AFTER the 500-cap (the results comprehension,
    * geo_manager.py:578-580/614-617), so a filter never widens the
    * candidate pool. */
  private def rankCandidates(spark: SparkSession, c: DataFrame, q: String,
                             hits: DataFrame, numResults: Int,
                             filters: Seq[(String, Any)] = Nil): DataFrame = {
    val ids = hits.orderBy(capOrder: _*).limit(capLimit(numResults)).select(col("id"))
      .collect().map(_.get(0)).toSeq

    val filterOk = filters.map { case (k, v) => col(k) === lit(v) }
      .foldLeft(lit(true))(_ && _)
    val scored = scoreCols(c.filter(col("id").isin(ids: _*)).filter(filterOk), lit(q))
      .select(resultCols.map(col): _*)
    val rows = if (ids.isEmpty) Array.empty[Row] else scored.collect()

    def before(a: Row, b: Row): Boolean =
      Similarity.ranksBefore(a.getDouble(5), a.getLong(0), b.getDouble(5), b.getLong(0))
    val best = rows.groupBy(_.get(2)).values.map(_.reduce((a, b) => if (before(b, a)) b else a))
    val top = best.toSeq.sortWith(before).take(numResults)
    spark.createDataFrame(java.util.Arrays.asList(top: _*), scored.schema)
  }

  /** best_fuzzy_search (geo_manager.py:503-523): the top-1 result gated by
    * `score >= threshold` (default .90, geo_manager.py:506) — empty result
    * when nothing clears the bar. Same plan as fuzzySearch with k=1; the
    * gate is a post-limit filter (the reference checks only the best row). */
  def bestFuzzySearch(spark: SparkSession, dir: String, query: String,
                      threshold: Double = 0.90): DataFrame =
    fuzzySearch(spark, dir, query, 1).filter(col("score") >= threshold)

  def bestFuzzySearchOracle(query: String, threshold: Double = 0.90): String =
    s"""SELECT * FROM (${fuzzySearchOracle(query, 1)}) WHERE score >= $threshold"""

  /** Partitioned-mode fuzzy search — the reference's DECLARED-BUT-DISABLED
    * surface (geo_manager.py:623-641 asserts partitioned off; :544-580 is
    * the dead branch: per-partition `search_dict[partition]` /
    * `geo_shape_dict[partition]`, searched one named partition per call).
    * Spark form (SURVEY.md §2.5): ONE plan over EVERY partition of the
    * [[zipCorpus]], partitioned by country — the pipeline's steps keyed by
    * `partition` (rank-limit windows plan map-side via WindowGroupLimit),
    * so a partition costs a window key, not a per-partition job loop — at
    * 100 TB one shuffle keyed by (data-derived) id and one by partition,
    * never |partitions| jobs.
    *
    * FIXED DEVIATION (documented): the reference's dead branch fetches
    * `value` (:558) and `population` (:571) through the UNPARTITIONED
    * dict — missing the `[partition]` hop its own `clean_value` lookups
    * take — so in partitioned mode every result would carry value=None
    * and population=0 (the ids only key the per-partition dicts). Here
    * every field comes from the partition-scoped record, what the code
    * manifestly intends; the per-partition cap/dedup/top-k semantics are
    * kept exactly.
    *
    * `partitions`: the reference returns [] for a partition not in
    * `self.partitions` (:546-547) — a `Some` filter restricts the search
    * the same way, and an unknown name yields the same empty result. */
  def fuzzySearchPartitioned(spark: SparkSession, dir: String, query: String,
                             numResults: Int,
                             partitions: Option[Seq[String]] = None): DataFrame = {
    val q = cleanQuery(query)
    val c = inPartitions(partitionedCorpus(spark, dir), partitions)
    partitionedTail(c, queryHits(inlinePostings(c, "partition"), q, "partition"), q, numResults)
  }

  private def partitionedCorpus(spark: SparkSession, dir: String): DataFrame =
    zipCorpus(spark, dir).withColumnRenamed("country", "partition")

  private def inPartitions(df: DataFrame, partitions: Option[Seq[String]]): DataFrame =
    partitions.fold(df)(ps => df.filter(col("partition").isin(ps: _*)))

  /** Cap, score and rank per partition (the 500-cap PER PARTITION:
    * Counter.most_common over one partition's search_dict,
    * geo_manager.py:551-554). */
  private def partitionedTail(c: DataFrame, hits: DataFrame, q: String,
                              numResults: Int): DataFrame =
    rankKeyed(scoreCols(capHits(hits, "partition", numResults)
      .join(c, Seq("id", "partition")), lit(q)), "partition", numResults)

  /** The PARTITIONED posting index — the partitioned mode's serving
    * artifact (the `fuzzy_indexed` precedent applied to the reference's
    * declared-but-disabled partitioned branch, geo_manager.py:463-476):
    * (id, partition, ngram) occurrence rows of the [[zipCorpus]], partition
    * = country, clustered by ngram so the single query's trigram literals
    * push into the scan as In(ngram) and row-group stats skip everything
    * else; the partition predicate (when a partition subset is queried)
    * pushes beside it. Row-local explode, so appendable. The kind names
    * the partition column. */
  val PartPostings: graft.Artifact = graft.Artifact("graft_partpost_country", 1,
    c => inlinePostings(c.withColumnRenamed("country", "partition"), "partition"),
    graft.Artifact.Clustered(Seq("ngram"), Seq("ngram", "partition")))

  /** [[fuzzySearchPartitioned]] SERVED from the materialized partitioned
    * posting artifact — identical semantics (the same oracle gates both),
    * candidate generation reads only the query's trigram postings via
    * literal In(ngram) pushdown instead of re-deriving postings from a
    * corpus scan per query (FuzzySearch round-14; closes the round-13
    * verdict's "partitioned mode is inline-only" item). */
  def fuzzySearchPartitionedIndexed(spark: SparkSession, dir: String,
                                    query: String, numResults: Int,
                                    partitions: Option[Seq[String]] = None): DataFrame = {
    val q = cleanQuery(query)
    val path = graft.Materialize.ensure(spark, PartPostings, dir, zipCorpus(spark, dir))
    val postings = inPartitions(Tables.parquet(spark, path), partitions)
    partitionedTail(inPartitions(partitionedCorpus(spark, dir), partitions),
      queryHits(postings, q, "partition"), q, numResults)
  }

  /** DuckDB mirror of [[fuzzySearchPartitioned]] — the single-query oracle
    * with every window keyed by the partition column. */
  def fuzzySearchPartitionedOracle(query: String, numResults: Int,
                                   partitions: Option[Seq[String]] = None): String = {
    val q = cleanQuery(query)
    val part = "\"partition\""
    val partFilter = partitions.map(ps =>
      s"WHERE country IN (${ps.map(sqlStr).mkString(", ")})").getOrElse("")
    s"""WITH corpus AS (SELECT *, country AS $part FROM ($zipCorpusCte) $partFilter),
       |${queryHitsSql(q)},
       |capped AS (SELECT * FROM cand WHERE ngram_hits > 0 ${capSql(Some(part), numResults)}),
       |${rankSql(Some(part), sqlStr(q), numResults)}""".stripMargin
  }

  /** Query-table stride for the batch query (89 keeps it non-vacuous at
    * sf0.001's 200-row part table). */
  val BatchQueryMod = 89L

  /** Deterministic fuzzy query table: every `BatchQueryMod`-th part name
    * with its 4th character dropped — a realistic single-typo query per
    * corpus stratum, derivable identically on both engines. */
  def batchQueries(c: DataFrame): DataFrame =
    c.filter(pmod(col("id"), lit(BatchQueryMod)) === 0)
      .select(col("id").as("qid"),
        cleanEntity(concat(substring(col("value"), 1, 3),
          expr("substring(value, 5)"))).as("clean_q"))

  /** DuckDB twin of [[batchQueries]]: the `q` CTE over the corpus CTE
    * (declared above the oracle vals that read it). */
  val batchQueriesCte: String =
    s"""q AS (SELECT id AS qid,
       |             ${OracleSql.clean("(substr(value, 1, 3) || substr(value, 5))")} AS clean_q
       |      FROM corpus WHERE id % $BatchQueryMod = 0)""".stripMargin

  /** BATCH fuzzy search — the flagship pipeline over a QUERY TABLE in one
    * distributed plan (the reference runs fuzzy_search once per request,
    * geo_manager.py:525-619), keyed by `qid`: query trigram sets derive
    * in-plan (charNgramSet per query row) and join postings on the ngram
    * key — data-derived shuffle, no per-query driver round-trip — and the
    * 500-cap, dedup and top-k are per-qid rank windows. The score branches
    * per row (a digits-only query takes the postal branch). At 100 TB with
    * the materialized ngram-clustered posting index this is a semi-join of
    * the query gram table against the index ([[batchFuzzySearchIndexed]]) —
    * batch auto-complete/geocoding at cluster throughput. */
  def batchFuzzySearch(spark: SparkSession, dir: String, numResults: Int): DataFrame = {
    val c = corpus(spark, dir)
    batchOver(batchQueries(c), inlinePostings(c), c, numResults, None)
  }

  /** Query-table stride for the ZIP batch (sf0.001's ~150-shape corpus
    * keeps exactly one query; sf0.01's 1500 shapes give ~17). */
  val ZipBatchQueryMod = 89L

  /** Deterministic DIGITS-ONLY query table over the zip corpus: every
    * `ZipBatchQueryMod`-th shape's zip digit token with its 4th digit
    * dropped — a postal typo query per stratum, so the postal scoring
    * branch (geo_manager.py:493-495) runs per ROW in the batch shape
    * (the part-corpus batch has no digits-only query). */
  def batchZipQueries(c: DataFrame): DataFrame = {
    val tok = substring_index(col("clean_value"), " ", 1)
    c.filter(pmod(col("id"), lit(ZipBatchQueryMod)) === 0)
      .select(col("id").as("qid"),
        concat(tok.substr(lit(1), lit(3)), tok.substr(lit(5), length(tok)))
          .as("clean_q"))
  }

  /** DuckDB twin of [[batchZipQueries]]. */
  private val zipQueriesCte: String =
    s"""q AS (SELECT id AS qid,
       |        substr(split_part(clean_value, ' ', 1), 1, 3) ||
       |        substr(split_part(clean_value, ' ', 1), 5) AS clean_q
       |      FROM corpus WHERE id % $ZipBatchQueryMod = 0)""".stripMargin

  /** BATCH fuzzy search over the ZIP corpus — `batchFuzzySearch` over
    * [[batchZipQueries]], so the postal branch is exercised in the serving
    * shape too. Own oracle (the postal branch changes scores by design). */
  def batchFuzzySearchZip(spark: SparkSession, dir: String, numResults: Int): DataFrame = {
    val c = zipCorpus(spark, dir)
    batchOver(batchZipQueries(c), inlinePostings(c), c, numResults, None)
  }

  /** Bloom sizing for the batch index probe: the build side is the batch's
    * distinct query-gram set (|queries| × ≤ ~50 grams; dup inserts are
    * harmless), so 1M bits (~128 KB broadcast blob) keeps the false-positive
    * rate well under 1% far past sf1. False positives only cost pruning
    * efficiency — the exact ngram equi-join removes them. */
  val IndexBloomEstItems = 100000L
  val IndexBloomNumBits = 1000000L

  /** Index-backed batch fuzzy search: identical semantics to
    * `batchFuzzySearch` (the shared oracle gates both), but candidate
    * generation joins the query gram table against the MATERIALIZED
    * ngram-clustered posting index instead of re-deriving postings from a
    * corpus scan. The batch's query grams are data-derived, so no literal
    * `In(ngram, ...)` can push into the index scan (the single-query form
    * gets that for free); instead the gram set folds into a RUNTIME bloom
    * filter evaluated as a scalar subquery — the probe is a codegen'd
    * filter inside the index scan stage (the same pre-shuffle reduction as
    * q14_bloom_semi), so only grams some query actually probes survive to
    * the exchange. This is the per-request index probe of
    * geo_manager.py:582, batched: at 100 TB the per-batch read cost drops
    * from O(index) to O(postings of the union of query grams) + a bloom
    * pass over scanned rows. The scoring tail still fetches only capped
    * candidates. */
  def batchFuzzySearchIndexed(spark: SparkSession, dir: String, numResults: Int): DataFrame = {
    val c = corpus(spark, dir)
    val path = ensurePostingsIndex(spark, dir, c)
    batchFuzzySearchOver(batchQueries(c), Tables.parquet(spark, path), c, numResults)
  }

  /** The index-probing batch pipeline over an ARBITRARY query table
    * (`qid`, `clean_q`) — the core that `batchFuzzySearchIndexed` (fixed
    * derived query table), `batchFuzzySearchStopGramIndexed` (same plus
    * the broadcast allowed-gram cut) run, and StreamingSpec runs per
    * micro-batch of a query stream. `postings` is the
    * materialized index relation; `c` the corpus for the fetch/score
    * tail; `allowed` an optional broadcast-sized allowed-gram set — when
    * present, grams outside it never leave the index scan stage (the
    * stop-gram cut). */
  def batchFuzzySearchOver(queries: DataFrame, postings: DataFrame, c: DataFrame,
                           numResults: Int,
                           allowed: Option[DataFrame] = None): DataFrame =
    batchOver(queries, bloomProbe(postings, queryGrams(queries)), c, numResults, allowed)

  private def batchOver(queries: DataFrame, postings: DataFrame, c: DataFrame,
                        numResults: Int, allowed: Option[DataFrame]): DataFrame =
    batchTail(capHits(batchHits(queries, postings, allowed), "qid", numResults),
      c, queries, numResults)

  /** Each query's distinct trigrams, one (qid, ngram) row each. */
  private def queryGrams(queries: DataFrame): DataFrame =
    queries.select(col("qid"), explode(charNgramSet(col("clean_q"), 3)).as("ngram"))

  /** Batch hits per (qid, id): the postings (cut to `allowed` when given)
    * equi-joined with the query gram table. An index read arrives through
    * the [[bloomProbe]]; inline postings derive from the corpus in the same
    * stage and join plainly. */
  private def batchHits(queries: DataFrame, postings: DataFrame,
                        allowed: Option[DataFrame]): DataFrame =
    allowed.fold(postings)(a => postings.join(broadcast(a), "ngram"))
      .join(queryGrams(queries), "ngram")
      .groupBy(col("qid"), col("id")).agg(count(lit(1)).as("ngram_hits"))

  /** The index probe of every batch index read: the query grams fold into
    * a runtime bloom evaluated inside the posting scan, so only grams some
    * query probes reach the exchange. */
  private def bloomProbe(postings: DataFrame, qGrams: DataFrame): DataFrame = {
    import graft.functions.SketchFunctions._
    val bloom = qGrams.agg(
      bloomFilterAgg(xxhash64(col("ngram")), IndexBloomEstItems, IndexBloomNumBits).as("bf"))
    postings.filter(mightContain(bloom.scalar(), xxhash64(col("ngram"))))
  }

  /** The batch fetch → score → rank over capped (qid, id) candidates, each
    * scored against its own query row. */
  private def batchTail(cand: DataFrame, c: DataFrame, queries: DataFrame,
                        numResults: Int): DataFrame =
    rankKeyed(scoreCols(cand.join(c, "id").join(broadcast(queries), "qid"),
      col("clean_q")), "qid", numResults)

  /** OPT-IN stop-gram mitigation for the batch candidate cliff (SCALE.md's
    * fuzzy_batch cost model: candidate rows = Σ_g qcount(g)·df(g), ~0.55·Q·N
    * measured on the low-entropy part corpus): grams whose posting-list
    * length exceeds N/`dfCapInverse` are dropped from CANDIDATE GENERATION,
    * so the hottest lists — the ones contributing df ≈ O(N) terms — never
    * enter the join. This CHANGES results (`ngram_hits` no longer counts
    * stop-gram occurrences, so capping and ranking shift), which is why it
    * is a separate operator with its OWN oracle (the gate applies the same
    * df cut in SQL) and never the default. The df table is bounded by the
    * gram space (≤ 37³ keys at any corpus size) — the same bounded-stat
    * broadcast as dedup_jaccard's prefix filter. The cut is exact-integer
    * (df · dfCapInverse ≤ N) so both engines agree bit-wise. */
  def batchFuzzySearchStopGram(spark: SparkSession, dir: String, numResults: Int,
                               dfCapInverse: Long): DataFrame = {
    val c = corpus(spark, dir)
    batchOver(batchQueries(c), inlinePostings(c), c, numResults,
      Some(allowedGrams(c, dfCapInverse)))
  }

  /** The stop-gram cut's allowed set over a corpus: grams whose
    * multiplicity df clears df · dfCapInverse ≤ n, with n derived in the
    * plan (no job runs while the DataFrame is built). ONE derivation, the
    * one SCALE.md's published candidate-volume measurements (the
    * `fuzzy_batch` audit row) were taken with. */
  private def allowedGrams(c: DataFrame, dfCapInverse: Long): DataFrame =
    gramCut(gramDf(c), gramN(c), dfCapInverse).select(col("ngram"))

  /** (ngram, df) rows of the grams that clear df · dfCapInverse ≤ n, `nRel`
    * the one-row count. */
  private def gramCut(dfRel: DataFrame, nRel: DataFrame, dfCapInverse: Long): DataFrame =
    dfRel.crossJoin(broadcast(nRel))
      .filter(col("df") * dfCapInverse <= col("n"))
      .select(col("ngram"), col("df"))

  // ------------- materialized gram-df stats (stop-gram serving path)

  /** Per-batch gram document-frequency rows (ngram, df) — the stop-gram
    * cut's stats, bounded by the gram space (≤ 37³ keys at any corpus
    * size). ADDITIVE: posting pairs are row-local, so
    * df(corpus ∪ batch) == df(corpus) + df(batch) per gram — the artifact
    * accumulates per-batch rows and the read folds them (the wordstats
    * pattern, Retrieval.scala). */
  private[graft] def gramDf(c: DataFrame): DataFrame =
    NgramIndex.postingPairsMulti(c).groupBy(col("ngram"))
      .agg(count(lit(1)).as("df"))

  /** Per-batch corpus row count — the `n` of the df·inv ≤ n cut. One row
    * per build/append; the read sums them. */
  private[graft] def gramN(c: DataFrame): DataFrame =
    c.agg(count(lit(1)).as("n"))

  /** The gram-stats pair (at scale built at ingest beside the posting
    * index): per-batch (ngram, df) rows, gram-space-bounded so one file
    * suffices at any corpus size, and per-batch (n) rows. Additive, so
    * appends land beside the existing files and compaction folds them by
    * summing (IncrementalIndexSpec pins append == rebuild). */
  val GramDf: graft.Artifact = graft.Artifact("graft_gramdf", 1, gramDf,
    graft.Artifact.Coalesced(1, 1),
    _.groupBy(col("ngram")).agg(sum(col("df")).as("df")))
  val GramN: graft.Artifact = graft.Artifact("graft_gramn", 1, gramN,
    graft.Artifact.Plain, _.agg(sum(col("n")).as("n")))

  /** The stop-gram cut SERVED from artifacts — batchFuzzySearchStopGram's
    * exact semantics (the same oracle gates both) with every corpus-sized
    * derivation replaced by a materialized read: candidates come from the
    * ngram-clustered posting index under the batch's runtime gram bloom
    * (the batchFuzzySearchIndexed probe), and the df·inv ≤ n cut folds
    * from the gram-space-bounded `graft_gramdf`/`graft_gramn` stats
    * artifacts into a broadcast allowed-set.
    *
    * Why this exists (SCALE.md, sf1 serving rehearsal): on a low-entropy
    * corpus the INDEXED batch read path inherits the quadratic candidate
    * cliff unmitigated — every gram is probed by some query, so the bloom
    * prunes nothing and the index join re-emits Σ_g qcount(g)·df(g) rows
    * (measured 81 s at the sf1 replica vs 2.0 s at sf0.1). The serving
    * tier therefore needs the cut WITHOUT re-deriving df from the corpus:
    * here the per-batch cost of the cut is a broadcast of a ≤ 37³-row
    * fold, and the hottest posting lists never leave the index scan stage. */
  def batchFuzzySearchStopGramIndexed(spark: SparkSession, dir: String,
                                      numResults: Int, dfCapInverse: Long): DataFrame = {
    val c = corpus(spark, dir)
    val path = ensurePostingsIndex(spark, dir, c)
    batchFuzzySearchOver(batchQueries(c), Tables.parquet(spark, path), c,
      numResults, Some(allowedGramsIndexed(spark, dir, c, dfCapInverse)))
  }

  /** The artifact-served allowed-gram set of the df·inv ≤ n cut: folds
    * the additive `graft_gramdf`/`graft_gramn` stats (ensured on first
    * call) — gram-space-bounded, so always broadcast-sized. */
  def allowedGramsIndexed(spark: SparkSession, dir: String, c: DataFrame,
                          dfCapInverse: Long, version: Int = 1): DataFrame =
    allowedGramsDfIndexed(spark, dir, c, Some(dfCapInverse), version)
      .select(col("ngram"))

  /** The ONE fold of the artifact-served gram stats: (ngram, df) summed
    * from `graft_gramdf`, cut to df·inv ≤ n (n summed from `graft_gramn`)
    * when `cut` is given — so every consumer of the allowed set, and of
    * its df (the cost predictions, the rare-gram rank), reads the same
    * derivation. */
  def allowedGramsDfIndexed(spark: SparkSession, dir: String, c: DataFrame,
                            cut: Option[Long], version: Int = 1): DataFrame = {
    val dp = graft.Materialize.ensure(spark, GramDf.copy(version = version), dir, c)
    val np = graft.Materialize.ensure(spark, GramN.copy(version = version), dir, c)
    val dfRel = Tables.parquet(spark, dp).groupBy(col("ngram"))
      .agg(sum(col("df")).as("df"))
    cut.fold(dfRel)(gramCut(dfRel, Tables.parquet(spark, np).agg(sum(col("n")).as("n")), _))
  }

  // ------------------- champion-list tier (absolute posting truncation)

  /** Per-gram posting-list budget for the champion tier. Sized so a
    * query's candidate pool (≤ |q-grams|·cap ≈ 30·64 ≈ 2k at the gate
    * corpus) comfortably covers the 500-candidate reference cap while
    * bounding the join ABSOLUTELY — the property the relative stop-gram
    * cut lacks (see [[batchFuzzySearchChampIndexed]]). Bites at sf0.01
    * (12 of 30 allowed grams carry df > 64). */
  val ChampPostingCap = 64

  /** v2: champion rank key changed from raw id to (population DESC, id) —
    * a v1 artifact under the new oracle would silently serve the biased
    * lists. v3: + population (the rank key) per row. */
  val ChampVersion = 3

  /** Write-once champion posting index — the stop-gram-cut posting
    * relation with each surviving gram's list truncated to its
    * [[ChampPostingCap]] BEST entries under a static quality prior:
    * population descending (the prior the final score already folds in as
    * ln(population)·0.1), tie-broken by id — classic IR champion lists
    * rank by a per-document quality score, and ranking by raw id would
    * systematically bias tier-3 candidates toward low/old ids (a corpus
    * whose relevant records carry high ids would be invisibly
    * under-served). The truncation is deterministic and engine-independent
    * (ids are unique, so (population DESC, id) totally orders ids;
    * duplicate (ngram, id) occurrence rows are interchangeable — the kept
    * COUNT per id is clamp(K − #better-ranked rows, 0, multiplicity)).
    * Min-K per gram is mergeable, but the allowed set depends on global
    * df — so no APPEND face: an ingest increment is staleness and ensure
    * rebuilds (the docglobal precedent). Same ngram-clustered layout as the
    * full index. */
  def ensureChampionIndex(spark: SparkSession, dir: String, c: DataFrame,
                          dfCapInverse: Long, postingCap: Int = ChampPostingCap): String = {
    // the cut parameters are part of the artifact IDENTITY (kind, not
    // version): a K=∞ build must never serve a K=64 read — caught by
    // OperatorParitySpec when a parameter-blind key let exactly that
    // happen within one warehouse
    val kind = s"graft_champost_${dfCapInverse}_$postingCap"
    val p = graft.Materialize.ensure(spark, kind, dir, ChampVersion) { path =>
      // population rides the explode (row-local) rather than joining the
      // corpus back onto corpus-scale postings — the rank key is free
      val kept = inlinePostings(c, "population")
        .join(broadcast(allowedGrams(c, dfCapInverse)), "ngram")
        .withColumn("prn", row_number().over(Window.partitionBy(col("ngram"))
          .orderBy(col("population").desc_nulls_last, col("id"))))
        .filter(col("prn") <= postingCap)
        .select(col("ngram"), col("id"), col("population"))
      Postings.write(kept, path, appending = false)
    }
    // parameter sweeps (and the parity spec's deliberate K=∞ build) would
    // otherwise accumulate one full posting copy per (inv, K) pair forever
    graft.Materialize.gcSupersededKinds(spark, "graft_champost_", kind, dir)
    p
  }

  // ---------------- LSH candidate channel (tier-3 recall, round 14)

  /** MinHash signature length of the fuzzy LSH channel (16 bands × 2
    * rows). Operating points below the max band count read a PREFIX of
    * the band space (`band_idx < bands`), so one artifact serves the
    * whole ladder. */
  val FuzzyLshHashes = 32
  val FuzzyLshRows = 2
  val FuzzyLshMaxBands: Int = FuzzyLshHashes / FuzzyLshRows // 16
  val FuzzyLshVersion = 2 // v2: splitmix permutation seeds

  /** Band widths the dispatcher may size the LSH channel to, descending
    * (0 = channel off). Catch probability at 2-row bands:
    * 1−(1−J²)^bands — measured candidate ceilings at the round-14
    * diversity replica: 16 bands 0.948 of the uncut top-k, 8 bands
    * 0.759 (SCALE.md §fuzzy-lsh). Round 15 added the
    * 12/10 intermediate widths: end-to-end effective recall at sfdiv1
    * steps 0.9766 / 0.9680 / 0.9594 / 0.9328 down the 16/12/10/8 ladder
    * while bucket volume steps 1.0 / 0.77 / 0.65 / 0.51 — one knob
    * notch per budget notch instead of a half-channel cliff. */
  val FuzzyLshBandLadder: Seq[Int] = Seq(FuzzyLshMaxBands, 12, 10, 8)

  /** Trigram-set MinHash signature of a name — the [[Dedup]] permutation
    * family over polyHashed distinct trigrams. WHY a signature channel at
    * all (round 14): the stop-gram cut is a RESULT ceiling for every
    * df-cut tier — at the diversity replica 38% of the uncut top-k enters
    * only through hot grams (every pool-token gram is hot there), which
    * no posting truncation can see at bounded cost. High-tversky results
    * are high-gram-Jaccard, and banded MinHash concentrates exactly that
    * evidence into O(bands) keys per query — the bounded "shares MANY
    * hot grams" detector. */
  private[graft] def fuzzyGramSig(v: Column): Column = {
    val gh = array_distinct(transform(charNgrams(v, 3), g => polyHash(g)))
    array((0 until FuzzyLshHashes).map { i =>
      array_min(transform(gh,
        h => (h * Dedup.permA(i) + Dedup.permB(i)) % HashMod))
    }: _*)
  }

  /** The 16 band hashes of a signature column (band b = polyHashLongs of
    * its 2-row slice). */
  private[graft] def fuzzyBandArray(sig: Column): Column =
    array((0 until FuzzyLshMaxBands).map { b =>
      polyHashLongs(slice(sig, b * FuzzyLshRows + 1, FuzzyLshRows))
    }: _*)

  private def fuzzyLshRowsOf(names: DataFrame): DataFrame =
    names.withColumn("sig", fuzzyGramSig(col("clean_value")))
      .select(col("clean_value"), posexplode(fuzzyBandArray(col("sig"))))
      .select(col("pos").as("band_idx"), col("col").as("band_hash"),
        col("clean_value"))

  /** The fuzzy LSH band artifact — one row per (band_idx, band_hash,
    * DISTINCT clean_value): the join factors through distinct names by
    * construction (the round-12 band-bucket discipline), so a clone-heavy
    * corpus costs storage, never join volume. Appendable: a batch's
    * distinct names land as new band-clustered files, and a name already
    * indexed lands a DUPLICATE row — exact anyway because the serve counts
    * `countDistinct(band_idx)` per (qid, name), so re-announcing a band
    * changes nothing (IncrementalIndexSpec pins append == rebuild). */
  val FuzzyLsh: graft.Artifact = graft.Artifact("graft_fuzzylsh", FuzzyLshVersion,
    names => fuzzyLshRowsOf(names.select(col("clean_value")).distinct()),
    graft.Artifact.Clustered(Seq("band_idx", "band_hash"), Seq("band_idx", "band_hash")))

  /** LSH candidate (qid, id) pairs at `bands` bands: query band keys
    * (|Q|·bands rows — broadcast) probe the band artifact map-side;
    * bucket-matched names expand to their ≤ 2 REPRESENTATIVE ids. No
    * intermediate cap: the round-14 sweep measured any per-query est/hits
    * cap at roughly HALF the channel's candidate ceiling (candidate est
    * values tie heavily on pool-token corpora), and none is needed —
    * the admission control already bounds the bucket-join volume, and the
    * rep expansion bounds the scoring tail at ≤ 2 rows per matched name
    * EXACTLY: the per-(qid, clean_value) dedup winner in [[batchTail]]
    * can only ever be the name's max-population id (score is
    * non-decreasing in population inside the efs > 0.65 branch,
    * (population DESC, id) picks it) or its global min id (every other
    * branch scores all ids of the name equally and the tie-break takes
    * the smallest id) — all other ids of the name lose the dedup no
    * matter the query. */
  private[graft] def lshCandidates(spark: SparkSession, dir: String,
                                   c: DataFrame, queries: DataFrame,
                                   bands: Int): DataFrame = {
    val art = Tables.parquet(spark, graft.Materialize.ensure(spark, FuzzyLsh, dir, c))
      .filter(col("band_idx") < bands)
    val qb = queries.withColumn("sig", fuzzyGramSig(col("clean_q")))
      .select(col("qid"), posexplode(fuzzyBandArray(col("sig"))))
      .select(col("qid"), col("pos").as("band_idx"), col("col").as("band_hash"))
      .filter(col("band_idx") < bands)
    val matched = art.join(broadcast(qb), Seq("band_idx", "band_hash"))
      .select(col("qid"), col("clean_value")).distinct()
    val byPop = Window
      .partitionBy(col("clean_value"))
      .orderBy(col("population").desc_nulls_last, col("id"))
    val reps = c.withColumn("prn", row_number().over(byPop))
      .filter(col("prn") === 1).select(col("clean_value"), col("id"))
      .unionByName(c.groupBy(col("clean_value")).agg(min(col("id")).as("id")))
      .distinct()
    matched.join(reps, "clean_value").select(col("qid"), col("id"))
  }

  /** Predicted LSH bucket-join volume at each ladder width — one
    * broadcast join of the batch's band keys against the artifact,
    * columns `lsh_<bands>`. The admission number [[champPlanFor]] feeds
    * the ladder. */
  def lshChannelCosts(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val art = Tables.parquet(spark, graft.Materialize.ensure(spark, FuzzyLsh, dir, c))
    val qb = batchQueries(c).withColumn("sig", fuzzyGramSig(col("clean_q")))
      .select(col("qid"), posexplode(fuzzyBandArray(col("sig"))))
      .select(col("pos").as("band_idx"), col("col").as("band_hash"))
    val cols = FuzzyLshBandLadder.map(b =>
      coalesce(sum(when(col("band_idx") < b, 1L)), lit(0L))
        .cast("long").as(s"lsh_$b"))
    art.join(broadcast(qb), Seq("band_idx", "band_hash"))
      .agg(cols.head, cols.tail: _*)
  }

  /** The THIRD serving tier of the batch-fuzzy ladder — measured into
    * existence by the 100× rehearsal: the relative stop-gram cut removes
    * a constant FRACTION of the Σ qcount·df candidate sum, so on a
    * low-entropy corpus the served stop-gram read is still quadratic
    * (sf0.1 2.0 s → 10× 3.2 s → 100× 362 s). The champion index bounds
    * candidates ABSOLUTELY at |q-grams|·K per query — linear in the
    * batch at any corpus size. Results change further (a candidate
    * beyond a gram's champion list no longer counts that gram): own
    * operator, own mirroring oracle, OperatorParitySpec pins that K=∞
    * reproduces the stop-gram output exactly and that the gate K bites.
    * Candidate gen = the same bloom-probed index read as every other
    * indexed batch face, over the champion artifact. */
  def batchFuzzySearchChampIndexed(spark: SparkSession, dir: String,
                                   numResults: Int, dfCapInverse: Long,
                                   postingCap: Int = ChampPostingCap,
                                   rareGrams: Int = ChampRareGrams,
                                   lshBands: Int = FuzzyLshMaxBands): DataFrame = {
    val c = corpus(spark, dir)
    val champ = Tables.parquet(spark, ensureChampionIndex(spark, dir, c, dfCapInverse, postingCap))
    val queries = batchQueries(c)
    val hits =
      if (rareGrams <= 0) batchHits(queries, bloomProbe(champ, queryGrams(queries)), None)
      else {
        val full = Tables.parquet(spark, ensurePostingsIndex(spark, dir, c))
        val allowedDf = allowedGramsDfIndexed(spark, dir, c, Some(dfCapInverse))
        champRareUnionHits(queries, champ, full, allowedDf, rareGrams)
      }
    val gramCapped = capHits(hits, "qid", numResults)
    val cand =
      if (lshBands <= 0) gramCapped
      else gramCapped.select(col("qid"), col("id")).unionByName(
        lshCandidates(spark, dir, c, queries, lshBands)).distinct()
    batchTail(cand, c, queries, numResults)
  }

  /** Candidate hits of the champion tier WITH the rare-gram recall floor
    * (round 14 — the round-13 verdict's top item): per query, the
    * [[ChampRareGrams]] rarest allowed grams (smallest folded df,
    * tie-broken by gram) probe the FULL posting index, every other allowed
    * gram probes its champion list. The union partitions each query's
    * gram set, so no (qid, gram) posting row is ever counted twice and
    * K=∞ still reproduces the stop-gram output exactly (rare side == full
    * == champion at K=∞; OperatorParitySpec). Why this raises recall
    * where deeper caps stopped paying: a true match shares the query's
    * DISCRIMINATIVE grams — exactly the low-df ones — and a rare gram's
    * full posting list is small BY SELECTION (the per-query df-rank is
    * the PPJoin prefix-filter ordering, Dedup.scala:47 — candidates
    * sharing any of the rarest grams are recovered at full depth, the
    * principled floor truncation alone cannot give). Cost: Σ rare df per
    * query — admission-controlled by the dispatcher ([[champPlanFor]]
    * sizes R to 0 on corpora where even the rarest allowed grams are hot,
    * preserving tier 3's absolute volume bound). Both sides ride the
    * same runtime-bloom index reads as every other indexed batch face. */
  private def champRareUnionHits(queries: DataFrame, champ: DataFrame,
                                 full: DataFrame, allowedDf: DataFrame,
                                 rareGrams: Int): DataFrame = {
    val qGrams = queryGrams(queries)
    val rareW = Window
      .partitionBy(col("qid")).orderBy(col("df"), col("ngram"))
    val flagged = qGrams.join(broadcast(allowedDf), "ngram")
      .withColumn("rrn", row_number().over(rareW))
    def side(postings: DataFrame, qg: DataFrame): DataFrame =
      bloomProbe(postings, qg).join(qg, "ngram").select(col("qid"), col("id"))
    val rareQg = flagged.filter(col("rrn") <= rareGrams)
      .select(col("qid"), col("ngram"))
    val restQg = flagged.filter(col("rrn") > rareGrams)
      .select(col("qid"), col("ngram"))
    side(full, rareQg)
      .unionByName(side(champ.select(col("ngram"), col("id")), restQg))
      .groupBy(col("qid"), col("id")).agg(count(lit(1)).as("ngram_hits"))
  }

  /** DuckDB twin of the LSH channel's signature + band derivation: per
    * distinct corpus name (`nb`) and per query (`qb`), the
    * [[FuzzyLshHashes]]-long trigram-set MinHash (same permutation family
    * and polyHash as the operator) banded 2 rows per band, band_idx
    * restricted to the operating width. */
  private def lshSigBandCtes(lshBands: Int): String = {
    val P = HashMod
    def sigList(ghExpr: String): String =
      (0 until FuzzyLshHashes).map { i =>
        s"list_min(list_transform($ghExpr, h -> (h * ${Dedup.permA(i)} + ${Dedup.permB(i)}) % $P))"
      }.mkString("[", ",\n           ", "]")
    def bandUnion(src: String, key: String): String =
      (0 until lshBands).map { b =>
        val (m1, m2) = (s"sig[${b * FuzzyLshRows + 1}]", s"sig[${b * FuzzyLshRows + 2}]")
        s"SELECT $key, $b AS band_idx, (($m1 * 31 + $m2) % $P) AS band_hash FROM $src"
      }.mkString("\n  UNION ALL\n  ")
    val ghN = s"list_distinct(list_transform(${OracleSql.trigrams("clean_value")}, g -> ${OracleSql.polyHash("g")}))"
    val ghQ = s"list_distinct(list_transform(${OracleSql.trigrams("clean_q")}, g -> ${OracleSql.polyHash("g")}))"
    s"""nsig AS (SELECT clean_value, ${sigList(ghN)} AS sig
       |         FROM (SELECT DISTINCT clean_value FROM corpus)),
       |nb AS (
       |  ${bandUnion("nsig", "clean_value")}),
       |qsig AS (SELECT qid, ${sigList(ghQ)} AS sig FROM q),
       |qb AS (
       |  ${bandUnion("qsig", "qid")})""".stripMargin
  }

  /** SQL twin of [[lshChannelCosts]]: the bucket-join row count at each
    * ladder width, from the same distinct-name band derivation. */
  def lshChannelCostsOracle: String = {
    val sums = FuzzyLshBandLadder.map(b =>
      s"coalesce(sum(CASE WHEN band_idx < $b THEN 1 END), 0)::BIGINT AS lsh_$b")
      .mkString(",\n       |       ")
    s"""WITH corpus AS ($corpusCte),
       |$batchQueriesCte,
       |${lshSigBandCtes(FuzzyLshMaxBands)}
       |SELECT $sums
       |FROM qb JOIN nb USING (band_idx, band_hash)""".stripMargin
  }

  /** Mirror oracle: the posting-join spelling (the brute-force list_filter
    * form cannot express a per-gram truncation), with the same scoring
    * tail as the batch oracle. `rareGrams > 0` mirrors the rare-gram
    * recall floor: each query's R rarest allowed grams (df asc, gram asc —
    * the same rank the operator derives) join the FULL posting multiset,
    * the rest join the champion lists. */
  def batchFuzzySearchChampOracle(numResults: Int, dfCapInverse: Long,
                                  postingCap: Int = ChampPostingCap,
                                  rareGrams: Int = ChampRareGrams,
                                  lshBands: Int = FuzzyLshMaxBands): String = {
    val hitsCte =
      if (rareGrams <= 0)
        s"""h AS (SELECT qg.qid, champ.id, count(*)::BIGINT AS ngram_hits
           |      FROM champ JOIN qg USING (g) GROUP BY qg.qid, champ.id),""".stripMargin
      else
        s"""qd AS (SELECT qg.qid, qg.g, row_number() OVER (PARTITION BY qg.qid
           |                             ORDER BY al.df, qg.g) AS rrn
           |       FROM qg JOIN al USING (g)),
           |h AS (SELECT qid, id, count(*)::BIGINT AS ngram_hits FROM (
           |        SELECT qd.qid, ag.id FROM qd JOIN ag USING (g)
           |        WHERE qd.rrn <= $rareGrams
           |        UNION ALL
           |        SELECT qd.qid, champ.id FROM qd JOIN champ USING (g)
           |        WHERE qd.rrn > $rareGrams)
           |      GROUP BY qid, id),""".stripMargin
    val candCte =
      if (lshBands <= 0) "cand AS (SELECT qid, id FROM gcap),"
      else
        s"""${lshSigBandCtes(lshBands)},
           |lshh AS (SELECT DISTINCT qb.qid, nb.clean_value
           |         FROM qb JOIN nb USING (band_idx, band_hash)),
           |reps AS (SELECT clean_value, id FROM (
           |           SELECT clean_value, id,
           |                  row_number() OVER (PARTITION BY clean_value
           |                    ORDER BY population DESC NULLS LAST, id) AS prn
           |           FROM corpus) WHERE prn = 1
           |         UNION
           |         SELECT clean_value, min(id) AS id FROM corpus
           |         GROUP BY clean_value),
           |lshi AS (SELECT h.qid, r.id
           |         FROM lshh h JOIN reps r USING (clean_value)),
           |cand AS (SELECT qid, id FROM gcap
           |         UNION SELECT qid, id FROM lshi),""".stripMargin
    s"""WITH corpus AS ($corpusCte),
       |ag AS (SELECT id, population, unnest(${OracleSql.trigrams("clean_value")}) AS g FROM corpus),
       |al AS (${gramDfSql(Some(dfCapInverse))}),
       |champ AS (SELECT id, g FROM (
       |    SELECT ag.id, ag.g,
       |           row_number() OVER (PARTITION BY ag.g
       |                              ORDER BY ag.population DESC NULLS LAST, ag.id) AS prn
       |    FROM ag JOIN al USING (g)) WHERE prn <= $postingCap),
       |$batchQueriesCte,
       |qg AS (SELECT qid, unnest(${OracleSql.trigramSet("clean_q")}) AS g FROM q),
       |$hitsCte
       |${batchCapSql(numResults)},
       |$candCte
       |${batchRankSql("cand", numResults)}""".stripMargin
  }

  /** Query BUDGET for the champ-recall instrument — the [[RecallProbeCap]]
    * convention applied to the fuzzy ladder's instrument (round 12: at
    * 4.4 s the instrument was the bench's slowest row because it sums
    * THREE anchor pipelines over the full query stride). The instrument
    * keeps the first `RecallQueryCap` queries of the stride
    * (deterministic id prefix); per-query results are independent (every
    * window, dedup, and cap partitions by qid), so the subsample is
    * EXACTLY the full instrument restricted to those queries — the qid
    * predicate pushes below the candidate joins on all three anchors, and
    * the oracle carries the same predicate. Sampled queries ARE the
    * contract: recall is an estimate whose query count is explicit in the
    * signature, not an accident of corpus size. */
  val RecallQueryCap = 64L

  /** Measured overlap@k of the champion tier against the UNCUT batch
    * results — the `ann_*_recall` convention applied to the fuzzy
    * ladder's own approximation: tier 3 changes results by design (the
    * stop-gram cut drops hot-gram hit evidence, then the per-gram
    * truncation drops candidates beyond each list's K champions), and
    * this row keeps what that costs in RESULT QUALITY vs tier-1 exact
    * reference semantics a measured number, not an assertion. Recall =
    * Σ|champ ∩ exact| / Σ|exact| over the batch's queries, matched on
    * (qid, clean_value) — the reference's own result identity (its dedup
    * collapses candidates per clean_value, geo_manager.py's best-per-
    * entity step), so two tiers surfacing the same ENTITY through
    * different duplicate ids count as agreement; raw-id matching scored 0
    * on the clone-replica corpora while every returned entity was
    * identical. Both sides are the served plans, so the number moves
    * when either the cut calibration or the champion ranking does (the
    * population-prior ranking exists exactly to push it up on
    * population-skewed corpora). Two numbers, because tier 3 stacks TWO
    * losses and conflating them misreads the design: `recall` (vs the
    * uncut tier-1 results) is dominated by the stop-gram cut that tier 2
    * ALREADY pays — its result set is the ceiling any cut plan can reach
    * — while `recall_vs_stopgram` isolates what the per-gram truncation
    * itself costs on top (the number the posting-cap knob moves). */
  def batchFuzzyChampRecall(spark: SparkSession, dir: String, numResults: Int,
                            dfCapInverse: Long,
                            postingCap: Int = ChampPostingCap,
                            rareGrams: Int = ChampRareGrams,
                            lshBands: Int = FuzzyLshMaxBands): DataFrame = {
    val qidBound = BatchQueryMod * RecallQueryCap
    // NO lineage share/cut on the anchor legs (r16 A/B): inline, the
    // duplicated legs dedupe at the PHYSICAL level — AQE ReuseExchange
    // matches the anchors' canonicalized exchanges across legs inside the
    // one assembled plan — while persist (13.6 s) and eager cut (12.2 s)
    // both split the anchors into separate query executions that cannot
    // reuse each other's exchanges (inline: 5.8 s at sf0.1 local[32]).
    val exact = batchFuzzySearchIndexed(spark, dir, numResults)
      .filter(col("qid") < qidBound)
      .select(col("qid"), col("clean_value"), col("score"))
    val stop = batchFuzzySearchStopGramIndexed(spark, dir, numResults, dfCapInverse)
      .filter(col("qid") < qidBound)
      .select(col("qid"), col("clean_value"))
    val champFull = batchFuzzySearchChampIndexed(spark, dir, numResults,
        dfCapInverse, postingCap, rareGrams, lshBands)
      .filter(col("qid") < qidBound)
    val champ = champFull.select(col("qid"), col("clean_value"))
    def hitsOf(base: DataFrame, name: String): DataFrame =
      base.join(champ, Seq("qid", "clean_value"))
        .agg(count(lit(1)).cast("long").as(name))
    // DISPLACEMENT decomposition (round 14): with the LSH channel, tier 3
    // escapes the tier-1 anchor's own 500-candidate hit-count cap and can
    // return STRICTLY higher-scoring results — a missed anchor row whose
    // score is below tier 3's per-query top-k floor was outscored, not
    // lost. true_loss counts only anchor rows tier 3 genuinely cannot see.
    val t3min = champFull.groupBy(col("qid")).agg(min(col("score")).as("t3_min"))
    val lossRow = exact
      .join(champ, Seq("qid", "clean_value"), "left_anti")
      .join(broadcast(t3min), Seq("qid"), "left")
      .agg(
        coalesce(sum(when(col("t3_min").isNotNull && col("score") < col("t3_min"),
          1L).otherwise(0L)), lit(0L)).cast("long").as("displaced"),
        coalesce(sum(when(col("t3_min").isNull || col("score") >= col("t3_min"),
          1L).otherwise(0L)), lit(0L)).cast("long").as("true_loss"))
    exact.agg(count(lit(1)).cast("long").as("k_total"),
        countDistinct(col("qid")).cast("long").as("n_queries"))
      .crossJoin(broadcast(hitsOf(exact.select(col("qid"), col("clean_value")),
        "hits_total")))
      .crossJoin(broadcast(stop.agg(count(lit(1)).cast("long").as("k_stop"))))
      .crossJoin(broadcast(hitsOf(stop, "hits_stop")))
      .crossJoin(broadcast(lossRow))
      .select(col("n_queries"), col("k_total"), col("hits_total"),
        (col("hits_total").cast("double") / col("k_total").cast("double"))
          .as("recall"),
        col("displaced"), col("true_loss"),
        ((col("k_total") - col("true_loss")).cast("double")
          / col("k_total").cast("double")).as("recall_effective"),
        col("k_stop"), col("hits_stop"),
        (col("hits_stop").cast("double") / col("k_stop").cast("double"))
          .as("recall_vs_stopgram"))
  }

  def batchFuzzyChampRecallOracle(numResults: Int, dfCapInverse: Long,
                                  postingCap: Int = ChampPostingCap,
                                  rareGrams: Int = ChampRareGrams,
                                  lshBands: Int = FuzzyLshMaxBands): String = {
    val qidBound = BatchQueryMod * RecallQueryCap
    s"""WITH ex AS MATERIALIZED (SELECT qid, clean_value, score FROM (${batchFuzzySearchOracle(numResults)})
       |       WHERE qid < $qidBound),
       |st AS MATERIALIZED (SELECT qid, clean_value
       |       FROM (${batchFuzzySearchOracle(numResults, Some(dfCapInverse))})
       |       WHERE qid < $qidBound),
       |chf AS MATERIALIZED (SELECT qid, clean_value, score
       |       FROM (${batchFuzzySearchChampOracle(numResults, dfCapInverse, postingCap, rareGrams, lshBands)})
       |       WHERE qid < $qidBound),
       |ch AS (SELECT qid, clean_value FROM chf),
       |t3min AS (SELECT qid, min(score) AS t3_min FROM chf GROUP BY qid),
       |miss AS (SELECT e.qid, e.score, m.t3_min
       |         FROM ex e LEFT JOIN t3min m ON m.qid = e.qid
       |         WHERE NOT EXISTS (SELECT 1 FROM ch
       |                           WHERE ch.qid = e.qid
       |                             AND ch.clean_value = e.clean_value)),
       |loss AS (SELECT
       |    coalesce(sum(CASE WHEN t3_min IS NOT NULL AND score < t3_min
       |                      THEN 1 ELSE 0 END), 0)::BIGINT AS displaced,
       |    coalesce(sum(CASE WHEN t3_min IS NULL OR score >= t3_min
       |                      THEN 1 ELSE 0 END), 0)::BIGINT AS true_loss
       |  FROM miss)
       |SELECT (SELECT count(DISTINCT qid) FROM ex)::BIGINT AS n_queries,
       |       (SELECT count(*) FROM ex)::BIGINT AS k_total,
       |       (SELECT count(*) FROM ex JOIN ch USING (qid, clean_value))::BIGINT AS hits_total,
       |       (SELECT count(*) FROM ex JOIN ch USING (qid, clean_value))::DOUBLE
       |         / (SELECT count(*) FROM ex)::DOUBLE AS recall,
       |       (SELECT displaced FROM loss) AS displaced,
       |       (SELECT true_loss FROM loss) AS true_loss,
       |       ((SELECT count(*) FROM ex) - (SELECT true_loss FROM loss))::DOUBLE
       |         / (SELECT count(*) FROM ex)::DOUBLE AS recall_effective,
       |       (SELECT count(*) FROM st)::BIGINT AS k_stop,
       |       (SELECT count(*) FROM st JOIN ch USING (qid, clean_value))::BIGINT AS hits_stop,
       |       (SELECT count(*) FROM st JOIN ch USING (qid, clean_value))::DOUBLE
       |         / (SELECT count(*) FROM st)::DOUBLE AS recall_vs_stopgram""".stripMargin
  }

  /** Candidate-volume PREDICTION for the batch join — the
    * admission-control face of SCALE.md's cost model: candidate rows =
    * Σ_g qcount(g)·df(g), with qcount from one narrow pass over the query
    * batch and df folded from the broadcast gram-stats artifact. The sum
    * is not a heuristic — it EQUALS the row count the candidate join
    * would emit (OperatorParitySpec pins equality against the actual join
    * at sf0.001), but costs a join of two gram-space-bounded relations
    * instead of the join itself. A serving tier runs this to decide
    * between the uncut and stop-gram plans BEFORE paying the cliff
    * (sf1 rehearsal: 245 M rows ≈ 80 s vs a sub-second prediction). */
  def batchCandidateCost(spark: SparkSession, dir: String): DataFrame =
    candidateCost(spark, dir, None)

  /** The STOP-GRAM-CUT candidate volume, predicted the same way: Σ over
    * ALLOWED grams of qcount·df, folded from the same bounded stats
    * artifacts — what [[batchFuzzySearchAuto]]'s second tier costs
    * before it is chosen. Equals the stop-gram candidate join's row
    * count by the same argument as the uncut prediction. */
  def batchStopgramCandidateCost(spark: SparkSession, dir: String,
                                 dfCapInverse: Long): DataFrame =
    candidateCost(spark, dir, Some(dfCapInverse))

  /** Σ qcount·df over the grams the `cut` allows (every gram when None),
    * with the query count beside it. */
  private def candidateCost(spark: SparkSession, dir: String,
                            cut: Option[Long]): DataFrame = {
    val c = corpus(spark, dir)
    val allowedDf = allowedGramsDfIndexed(spark, dir, c, cut)
    val queries = batchQueries(c)
    val qc = queryGrams(queries).groupBy(col("ngram")).agg(count(lit(1)).as("qcount"))
    qc.join(broadcast(allowedDf), "ngram")
      .agg(coalesce(sum(col("qcount") * col("df")), lit(0L))
        .cast("long").as("candidate_rows"))
      .crossJoin(broadcast(
        queries.agg(count(lit(1)).cast("long").as("n_queries"))))
  }

  /** DuckDB twin of batchCandidateCost (same derivations, same BIGINT
    * output types). */
  val batchCandidateCostOracle: String = candidateCostOracle(None)

  def batchStopgramCandidateCostOracle(dfCapInverse: Long): String =
    candidateCostOracle(Some(dfCapInverse))

  private def candidateCostOracle(cut: Option[Long]): String =
    s"""WITH corpus AS ($corpusCte),
       |$batchQueriesCte,
       |qg AS (SELECT g, count(*) AS qcount
       |       FROM (SELECT qid, unnest(${OracleSql.trigramSet("clean_q")}) AS g FROM q)
       |       GROUP BY g),
       |dfr AS (${gramDfSql(cut)})
       |SELECT coalesce(sum(qg.qcount * dfr.df), 0)::BIGINT AS candidate_rows,
       |       (SELECT count(*) FROM q)::BIGINT AS n_queries
       |FROM qg JOIN dfr USING (g)""".stripMargin

  /** Candidate-row budget of every admission-controlled pair dispatcher
    * ([[batchFuzzySearchAuto]], `Dedup.containmentPairsAuto`,
    * `Dedup.winnowPairsAuto`) — the point where the uncut read stops being
    * the cheaper plan.
    * Derived from measured reads (SCALE.md §admission-control): the uncut
    * candidate join costs ≈ 0.33 µs/row + ~1.1 s fixed at local[32]
    * (2.44 M rows → 1.9 s at sf0.1; 245 M rows → ~80 s at the sf1
    * replica), while the served stop-gram cut is ~2–3.5 s nearly flat
    * (its per-batch cost is a gram-space-bounded broadcast fold). The
    * curves cross near 6–8 M candidate rows; 8 M keeps the uncut plan —
    * which is the EXACT reference semantics, cap-after-count — wherever
    * it is not measurably the slower choice. The containment verify
    * (≈ 0.33 µs/row, the capped screen nearly flat) and the winnow pair
    * join (the capped form ~1.4 s slower than uncapped when nothing is
    * hot, at the 10× replica) measure on the same curve. */
  val CandidateBudget: Long = 8L * 1000 * 1000

  /** Champion posting caps the dispatcher may budget-size tier 3 to,
    * DESCENDING — the largest feasible cap wins. Floor is
    * [[ChampPostingCap]] (the always-bounded original constant).
    * Motivated by the round-13 entity-diversity replica: at the fixed 64
    * cap the champion tier's recall-vs-uncut measured 0.31 on a
    * diverse-vocabulary corpus while caps of 128/256/512 measured
    * 0.38/0.44/0.49 at the SAME wall — quality the fixed cap was leaving
    * on the table whenever the budget had room for a deeper list. */
  val ChampCapLadder: Seq[Int] = Seq(512, 256, 128, ChampPostingCap)

  /** Default rare-gram count R of the tier-3 recall floor: each query's R
    * rarest allowed grams probe FULL posting lists instead of champion
    * lists ([[champRareUnionHits]]). Sized at the round-14 diversity
    * replica sweep (see SCALE.md §champion-recall): the rare side is
    * budget-cheap by selection (the smallest dfs the query has), and R
    * beyond a few grams stops adding recall because the prefix-filter
    * principle needs only the most selective grams to recover a true
    * match. */
  val ChampRareGrams = 3


  /** Tier-3 analogue of [[batchStopgramCandidateCost]]: the champion
    * join's predicted candidate volume, decomposed so [[champPlanFor]]
    * can size BOTH tier-3 knobs from one aggregate — per (query, allowed
    * gram) pair with the rare rank rrn (df asc, gram asc — the served
    * plan's own ordering), columns:
    *
    *  - `cost_<cap>`   = Σ min(df, cap)              (pure truncation)
    *  - `rare`         = Σ_{rrn ≤ R} df              (rare side, cap-free)
    *  - `rarecut_<cap>` = Σ_{rrn ≤ R} min(df, cap)   (what rare replaces)
    *
    * so volume(R on, cap) = cost_cap + rare − rarecut_cap and
    * volume(R off, cap) = cost_cap. The relation is |queries|·|q-grams|
    * rows — bounded by the batch, never the corpus; df folds from the
    * broadcast-bounded gram-stats artifacts. */
  def batchChampCandidateCosts(spark: SparkSession, dir: String,
                               dfCapInverse: Long): DataFrame = {
    val c = corpus(spark, dir)
    val allowedDf = allowedGramsDfIndexed(spark, dir, c, Some(dfCapInverse))
    val rareW = Window
      .partitionBy(col("qid")).orderBy(col("df"), col("ngram"))
    val qd = queryGrams(batchQueries(c))
      .join(broadcast(allowedDf), "ngram")
      .withColumn("rrn", row_number().over(rareW))
    val rareCol = coalesce(sum(when(col("rrn") <= ChampRareGrams, col("df"))),
      lit(0L)).cast("long").as("rare")
    val capCols = ChampCapLadder.flatMap { cp =>
      Seq(
        coalesce(sum(least(col("df"), lit(cp.toLong))), lit(0L))
          .cast("long").as(s"cost_$cp"),
        coalesce(sum(when(col("rrn") <= ChampRareGrams,
            least(col("df"), lit(cp.toLong)))), lit(0L))
          .cast("long").as(s"rarecut_$cp"))
    }
    qd.agg(rareCol, capCols: _*)
  }

  /** Tier-3 OPERATING POINTS (lshBands, rareGrams, postingCap), ordered
    * by measured result quality at the round-14 diversity replica
    * (SCALE.md §fuzzy-lsh): the LSH channel dominates (candidate ceiling
    * 0.948 of the uncut top-k at 16 bands, 0.759 at 8 — it is the only
    * channel that sees hot-gram-only results past the stop cut), then the
    * rare-gram floor (recovers the truncation loss: vs-stop-gram 0.79 →
    * 0.98), then champion depth (marginal once the other two are on).
    * [[champPlanFor]] serves the FIRST point whose total predicted volume
    * fits the budget; the floor point is the round-13 absolute bound. */
  val ChampPlanLadder: Seq[(Int, Int, Int)] = Seq(
    (FuzzyLshMaxBands, ChampRareGrams, 512),
    (FuzzyLshMaxBands, ChampRareGrams, ChampPostingCap),
    (FuzzyLshMaxBands, 0, ChampPostingCap),
    // round 15: intermediate LSH widths — the sfdiv1 sweep measured
    // effective recall 0.9680 at (12,0,64) and 0.9594 at (10,0,64) vs
    // 0.9328 at (8,0,64), with lsh_12/lsh_10 bucket volume at 0.77/0.65
    // of lsh_16 (SCALE.md §champ-recall-r15) — budgets that cannot
    // afford the full 16-band channel degrade by one band step, not
    // half the channel
    (12, ChampRareGrams, ChampPostingCap),
    (12, 0, ChampPostingCap),
    (10, ChampRareGrams, ChampPostingCap),
    (10, 0, ChampPostingCap),
    (8, ChampRareGrams, ChampPostingCap),
    (8, 0, ChampPostingCap),
    (0, ChampRareGrams, 512),
    (0, ChampRareGrams, ChampPostingCap),
    (0, 0, 512), (0, 0, 128), (0, 0, ChampPostingCap))

  /** The budget-sized tier-3 plan (lshBands, rareGrams, postingCap) —
    * round 14: one quality-ordered ladder over all three knobs, first
    * point whose predicted TOTAL volume fits. Volume(point) =
    * lsh_<bands> (bucket-join rows, [[lshChannelCosts]])
    * + (rare − rarecut_<cap> when the rare floor is on)
    * + cost_<cap> (champion lists), per the
    * [[batchChampCandidateCosts]] decomposition. Every term is an exact
    * row-count prediction, so on a degenerate corpus (hot rare grams,
    * megabucket signatures) the expensive channels fail admission and
    * the floor point keeps the round-13 absolute bound. */
  def champPlanFor(spark: SparkSession, dir: String,
                   dfCapInverse: Long, budget: Long): (Int, Int, Int) = {
    val r = batchChampCandidateCosts(spark, dir, dfCapInverse).head()
    val l = lshChannelCosts(spark, dir).head()
    val rare = r.getAs[Long]("rare")
    def vol(p: (Int, Int, Int)): Long = {
      val (bands, rr, cp) = p
      val lsh = if (bands > 0) l.getAs[Long](s"lsh_$bands") else 0L
      val rarePart = if (rr > 0) rare - r.getAs[Long](s"rarecut_$cp") else 0L
      lsh + rarePart + r.getAs[Long](s"cost_$cp")
    }
    ChampPlanLadder.find(p => vol(p) <= budget).getOrElse(ChampPlanLadder.last)
  }

  /** The dispatching batch-fuzzy serving entry — admission control WIRED,
    * not just available: runs [[batchCandidateCost]]'s bounded prediction
    * (a join of two gram-space-bounded relations; sub-second at any
    * corpus size) and only then chooses the plan. Below the budget it
    * serves the uncut indexed batch (faithful cap-after-count semantics,
    * geo_manager.py:584-586); above it, the stop-gram cut served from the
    * gram-stats artifacts — the documented semantic deviation that a
    * low-entropy corpus forces (without it the candidate join pays
    * Σ qcount·df, measured 44× super-linear per 10× on the sf1 replica).
    * The oracle twin dispatches the SAME way in SQL, so the gate checks
    * the dispatch itself, not just the branches; OperatorParitySpec pins
    * both branches against their direct operators and that a degenerate
    * corpus selects the cut at the default budget.
    *
    * THREE-tier dispatch (round 10 — the 100× rehearsal showed tier 2's
    * relative cut is still quadratic on a degenerate corpus): uncut
    * indexed (exact reference semantics) while the uncut volume fits the
    * budget; the stop-gram cut while ITS predicted volume fits; else the
    * champion index (absolute per-gram truncation — the only tier whose
    * candidate volume is linear in the batch at any corpus size). Both
    * predictions fold from the bounded stats artifacts; the oracle
    * dispatches identically in SQL.
    *
    * Each prediction is a real Spark action at DataFrame-CONSTRUCTION
    * time, so each is [[graft.Memo]]ized: tier 1 under the input and
    * [[GramDf]] listings; tiers 2 and 3, whose allowed-set predicate
    * df·inv ≤ n reads both stats artifacts, under the [[GramN]] listing
    * too, keyed by dfCapInverse (tier 3 also by the budget). */
  def batchFuzzySearchAuto(spark: SparkSession, dir: String, numResults: Int,
                           dfCapInverse: Long,
                           budget: Long = CandidateBudget,
                           postingCap: Int = 0): DataFrame = {
    val c = corpus(spark, dir)
    val dp = graft.Materialize.ensure(spark, GramDf, dir, c)
    val np = graft.Materialize.ensure(spark, GramN, dir, c)
    val stamp = graft.Memo.listing(spark, dir, dp)
    val predicted = graft.Memo(("fuzzy cost", dir), stamp) {
      batchCandidateCost(spark, dir).head().getLong(0)
    }
    if (predicted <= budget) batchFuzzySearchIndexed(spark, dir, numResults)
    else {
      val statsStamp = stamp ++ graft.Memo.listing(spark, np)
      val stopPredicted = graft.Memo(("stop-gram cost", dir, dfCapInverse), statsStamp) {
        batchStopgramCandidateCost(spark, dir, dfCapInverse).head().getLong(0)
      }
      if (stopPredicted <= budget)
        batchFuzzySearchStopGramIndexed(spark, dir, numResults, dfCapInverse)
      else {
        // postingCap = 0 (the default) means BUDGET-SIZED: the first
        // ChampPlanLadder point whose predicted volume fits — all the
        // recall the budget allows, same absolute bound discipline. An
        // explicit cap is honored verbatim with the default rare floor
        // and LSH width (parameter sweeps, parity pins).
        val (bands, rr, pc) =
          if (postingCap > 0) (FuzzyLshMaxBands, ChampRareGrams, postingCap)
          else graft.Memo(("champion plan", dir, dfCapInverse, budget), statsStamp) {
            champPlanFor(spark, dir, dfCapInverse, budget)
          }
        batchFuzzySearchChampIndexed(spark, dir, numResults, dfCapInverse,
          pc, rr, bands)
      }
    }
  }

  /** Tier-3 cost oracle — SQL twin of [[batchChampCandidateCosts]]: one
    * row with the same (cost_<cap>, rare, rarecut_<cap>) decomposition,
    * derived per (query, allowed gram) with the identical rare rank. */
  def batchChampCandidateCostsOracle(dfCapInverse: Long): String = {
    val sums = (Seq(
      s"coalesce(sum(CASE WHEN rrn <= $ChampRareGrams THEN df END), 0)::BIGINT AS rare") ++
      ChampCapLadder.flatMap(cp => Seq(
        s"coalesce(sum(least(df, $cp)), 0)::BIGINT AS cost_$cp",
        s"coalesce(sum(CASE WHEN rrn <= $ChampRareGrams THEN least(df, $cp) END), 0)::BIGINT AS rarecut_$cp")))
      .mkString(",\n       |       ")
    s"""WITH corpus AS ($corpusCte),
       |$batchQueriesCte,
       |qg AS (SELECT qid, unnest(${OracleSql.trigramSet("clean_q")}) AS g FROM q),
       |dfr AS (${gramDfSql(Some(dfCapInverse))}),
       |qd AS (SELECT qg.qid, qg.g, dfr.df,
       |              row_number() OVER (PARTITION BY qg.qid
       |                                 ORDER BY dfr.df, qg.g) AS rrn
       |       FROM qg JOIN dfr USING (g))
       |SELECT $sums
       |FROM qd""".stripMargin
  }

  /** DuckDB twin of the DISPATCH: the cost CTEs guard the UNION ALL
    * branches (each the full oracle of its plan), so the oracle selects
    * the same branch — and, in tier 3, the same BUDGET-SIZED posting cap
    * — the operator does at the gate's data scale. `postingCap = 0`
    * (the default) mirrors the operator's auto-sizing with one guarded
    * champion branch per ladder cap; an explicit cap emits the single
    * fixed branch. */
  def batchFuzzySearchAutoOracle(numResults: Int, dfCapInverse: Long,
                                 budget: Long = CandidateBudget,
                                 postingCap: Int = 0): String = {
    val champBranches =
      if (postingCap > 0)
        s"""  SELECT * FROM (${batchFuzzySearchChampOracle(numResults, dfCapInverse, postingCap)}) ch
           |  WHERE (SELECT candidate_rows FROM cost) > $budget
           |    AND (SELECT candidate_rows FROM cost2) > $budget""".stripMargin
      else ChampPlanLadder.zipWithIndex.map { case ((bands, rr, cp), i) =>
        s"""  SELECT * FROM (${batchFuzzySearchChampOracle(numResults, dfCapInverse, cp, rr, bands)}) ch_$i
           |  WHERE (SELECT candidate_rows FROM cost) > $budget
           |    AND (SELECT candidate_rows FROM cost2) > $budget
           |    AND (SELECT pick FROM chosen) = $i""".stripMargin
      }.mkString("\n  UNION ALL\n")
    val chosenCte =
      if (postingCap > 0) ""
      else {
        // the SAME ladder walk champPlanFor performs: first operating
        // point whose total predicted volume fits the budget
        def vol(p: (Int, Int, Int)) = {
          val (bands, rr, cp) = p
          val lsh = if (bands > 0) s"lsh_$bands + " else ""
          val rarePart = if (rr > 0) s"rare - rarecut_$cp + " else ""
          s"$lsh${rarePart}cost_$cp"
        }
        val pick = ChampPlanLadder.init.zipWithIndex.map { case (p, i) =>
          s"WHEN ${vol(p)} <= $budget THEN $i"
        }.mkString(" ")
        s""",
           |cost3 AS (${batchChampCandidateCostsOracle(dfCapInverse)}),
           |cost4 AS ($lshChannelCostsOracle),
           |chosen AS (SELECT CASE $pick ELSE ${ChampPlanLadder.size - 1} END AS pick
           |           FROM cost3, cost4)""".stripMargin
      }
    s"""WITH cost AS ($batchCandidateCostOracle),
       |cost2 AS (${batchStopgramCandidateCostOracle(dfCapInverse)})$chosenCte
       |SELECT qid, id, value, clean_value, distance, ngram_similarity, score
       |FROM (
       |  SELECT * FROM (${batchFuzzySearchOracle(numResults)}) u
       |  WHERE (SELECT candidate_rows FROM cost) <= $budget
       |  UNION ALL
       |  SELECT * FROM (${batchFuzzySearchOracle(numResults, Some(dfCapInverse))}) s
       |  WHERE (SELECT candidate_rows FROM cost) > $budget
       |    AND (SELECT candidate_rows FROM cost2) <= $budget
       |  UNION ALL
       |$champBranches
       |) d
       |ORDER BY qid, score DESC, id""".stripMargin
  }

  // ---------------------------------------------------------------- oracle

  private def sqlStr(s: String): String = s"'${s.replace("'", "''")}'"

  private def partitionBy(key: Option[String]): String =
    key.fold("")(k => s"PARTITION BY $k ")

  /** The oracle's 500-cap window, per `key` or over one query's hits. */
  private def capSql(key: Option[String], numResults: Int): String =
    s"QUALIFY row_number() OVER (${partitionBy(key)}ORDER BY ngram_hits DESC, id) <= ${capLimit(numResults)}"

  /** The `cand` CTE of one literal query: every corpus row with its hits. */
  private def queryHitsSql(q: String): String = {
    val qGramSet = queryTrigrams(q).distinct.map(sqlStr).mkString("[", ", ", "]")
    s"""cand AS (
       |  SELECT *, len(list_filter(${OracleSql.trigrams("clean_value")}, g -> list_contains($qGramSet, g)))::BIGINT AS ngram_hits
       |  FROM corpus)""".stripMargin
  }

  /** (g, df) per corpus trigram, df counting occurrences; with `cut`, only
    * the grams that clear df·inv ≤ n (the stop-gram cut, exact-integer). */
  private def gramDfSql(cut: Option[Long]): String =
    s"""SELECT g, count(*) AS df
       |        FROM (SELECT unnest(${OracleSql.trigrams("clean_value")}) AS g FROM corpus)
       |        GROUP BY g""".stripMargin +
      cut.fold("")(inv => s"\n        HAVING count(*) * $inv <= (SELECT count(*) FROM corpus)")

  /** The per-qid cap over `h`(qid, id, ngram_hits): the `gcap` CTE. */
  private def batchCapSql(numResults: Int): String =
    s"gcap AS (SELECT qid, id FROM h WHERE ngram_hits > 0 ${capSql(Some("qid"), numResults)})"

  /** The batch fetch → score → rank over the (qid, id) CTE `cand`. */
  private def batchRankSql(cand: String, numResults: Int): String =
    s"""capped AS (SELECT d.qid, q.clean_q, c.*
       |           FROM $cand d JOIN corpus c ON c.id = d.id
       |           JOIN q ON q.qid = d.qid),
       |${rankSql(Some("qid"), "clean_q", numResults)}""".stripMargin

  /** DuckDB twin of [[scoreCols]] + [[rankKeyed]]: from a `capped` CTE of
    * records (with `key` and the query's columns), the `scored`, `ranked`
    * and `dedup` CTEs and the top-k select, against the query expression
    * `q` (a quoted literal or a column). geo_search_score's postal branch
    * (geo_manager.py:493-495): a digits-only query scores against the
    * FIRST SPACE-TOKEN of the source; ngram_similarity and the DL distance
    * always use the full source (fuzzy_search result dict,
    * geo_manager.py:560-573). For a literal query the branch constant-folds
    * on both engines. */
  private def rankSql(key: Option[String], q: String, numResults: Int): String = {
    val k = key.fold("")(_ + ", ")
    def efs(src: String): String =
      s"(${OracleSql.tversky(OracleSql.trigramSet(q), OracleSql.trigramSet(src), 0.85, 0.15)}" +
        s" * (1.0 + CASE WHEN starts_with($src, $q) THEN 0.15 ELSE 0.0 END))"
    val tok = "split_part(clean_value, ' ', 1)"
    s"""scored AS (
       |  SELECT ${k}id, value, clean_value, population,
       |         ${efs("clean_value")} AS efs_raw,
       |         (CASE WHEN regexp_matches($q, '^[0-9]+$$') THEN ${efs(tok)}
       |               ELSE ${efs("clean_value")} END) AS score_base,
       |         least(damerau_levenshtein(split_part($q, ',', 1), split_part(clean_value, ',', 1)),
       |               damerau_levenshtein($q, clean_value))::BIGINT AS distance
       |  FROM capped),
       |ranked AS (
       |  SELECT ${k}id, value, clean_value, distance,
       |         round(efs_raw, 6) AS ngram_similarity,
       |         round(CASE WHEN population <= 0 OR score_base <= 0.65 THEN score_base * 0.9
       |                    ELSE score_base * 0.9 + ln(population) * 0.1 END, 6) AS score
       |  FROM scored),
       |dedup AS (
       |  SELECT * FROM ranked
       |  QUALIFY row_number() OVER (PARTITION BY ${k}clean_value ORDER BY score DESC, id) = 1)
       |SELECT ${k}id, value, clean_value, distance, ngram_similarity, score
       |FROM dedup
       |QUALIFY row_number() OVER (${partitionBy(key)}ORDER BY score DESC, id) <= $numResults
       |ORDER BY ${k}score DESC, id""".stripMargin
  }

  /** DuckDB twin of the batch faces (`dfCapInverse`: the stop-gram cut).
    * Posting-join spelling (round 13): hits fold from an equi-join of
    * corpus trigram OCCURRENCES against each query's trigram SET — an
    * occurrence matches at most once per distinct query gram, so the
    * count is identical to the brute-force list_filter form, but the work
    * is Σ qcount·df join rows instead of |Q|·|corpus| per-pair list
    * evaluations (450 M trigram list ops at the sf1 replica — the
    * brute-force form ran for hours there). */
  def batchFuzzySearchOracle(numResults: Int,
                             dfCapInverse: Option[Long] = None): String =
    batchOracle(corpusCte, batchQueriesCte, numResults, dfCapInverse)

  def batchFuzzySearchZipOracle(numResults: Int): String =
    batchOracle(zipCorpusCte, zipQueriesCte, numResults, None)

  private def batchOracle(corpusSql: String, queriesCte: String, numResults: Int,
                          cut: Option[Long]): String = {
    val allowedCte = cut.fold("")(inv => s"allowed AS (${gramDfSql(Some(inv))}),\n")
    val allowedJoin = if (cut.isDefined) " JOIN allowed USING (g)" else ""
    s"""WITH corpus AS ($corpusSql),
       |$queriesCte,
       |${allowedCte}cg AS (SELECT id, unnest(${OracleSql.trigrams("clean_value")}) AS g FROM corpus),
       |qg AS (SELECT qid, unnest(${OracleSql.trigramSet("clean_q")}) AS g FROM q),
       |h AS (SELECT qg.qid, cg.id, count(*)::BIGINT AS ngram_hits
       |      FROM cg$allowedJoin JOIN qg USING (g)
       |      GROUP BY qg.qid, cg.id),
       |${batchCapSql(numResults)},
       |${batchRankSql("gcap", numResults)}""".stripMargin
  }

  def fuzzySearchOracle(query: String, numResults: Int,
                        corpusSql: String = corpusCte,
                        filters: Seq[(String, Any)] = Nil): String = {
    val q = cleanQuery(query)
    // Filters apply AFTER the cap (the reference's results comprehension,
    // geo_manager.py:578-580) — mirrored by rankCandidates.
    val filterSql = if (filters.isEmpty) "" else "WHERE " + filters.map {
      case (k, v: String) => s"$k = ${sqlStr(v)}"
      case (k, v) => s"$k = $v"
    }.mkString(" AND ")
    s"""WITH corpus AS ($corpusSql),
       |${queryHitsSql(q)},
       |capped AS (
       |  SELECT * FROM (SELECT * FROM cand WHERE ngram_hits > 0 ${capSql(None, numResults)})
       |  $filterSql),
       |${rankSql(None, sqlStr(q), numResults)}""".stripMargin
  }
}
