package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import graft.oracle.OracleSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data-pipeline surface:
  * exact (hash groupBy), trigram-set Jaccard similarity join with an exact
  * prefix filter (PPJoin-style candidate pruning — Chaudhuri et al.,
  * "A Primitive Operator for Similarity Joins", ICDE'06), MinHash+LSH
  * (Broder '97 shingling; banding per Leskovec/Rajaraman/Ullman MMDS ch.3),
  * and SimHash (Charikar '02) fingerprints.
  *
  * All hashes are the engine's deterministic polynomial hash (oracle parity
  * — TextFunctions.polyHash), NOT murmur3/xxhash: at cluster scale swap the
  * constant via config, the plan shape is identical.
  */
object Dedup {

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup groups: canonical id + multiplicity per normalized text.
    * Straight hash aggregation — partial (map-side) combine + final agg,
    * the plan Spark picks for groupBy on a high-cardinality key. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    FuzzySearch.corpus(spark, dir)
      .groupBy(col("clean_value"))
      .agg(min(col("id")).as("canonical_id"),
        count(lit(1)).as("dup_count"))
      .withColumn("text_hash", md5(col("clean_value")))
      .select(col("text_hash"), col("clean_value"), col("canonical_id"), col("dup_count"))
      .orderBy(col("canonical_id"))

  def exactDedupOracle: String =
    s"""WITH corpus AS (${FuzzySearch.corpusCte})
       |SELECT md5(clean_value) AS text_hash, clean_value,
       |       min(id) AS canonical_id, count(*) AS dup_count
       |FROM corpus GROUP BY clean_value
       |ORDER BY canonical_id""".stripMargin

  // -------------------------------------------- trigram Jaccard similarity

  /** Near-dup pairs by trigram-set Jaccard >= threshold, via an EXACT
    * prefix filter: order each record's trigrams by ascending global
    * document frequency, keep the first (s - ceil(t*s) + 1); any pair with
    * Jaccard >= t must share a prefix trigram, so the candidate join runs
    * on the RAREST trigrams only (posting lists stay short at scale, unlike
    * a naive all-trigram self-join). Verification recomputes exact Jaccard,
    * so the output is independent of the pruning — which is why a
    * brute-force DuckDB oracle checks it.
    */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    // Run on the exact-dedup canonical corpus (one row per clean_value) —
    // the realistic exact→fuzzy pipeline order, and it keeps identical-text
    // groups from flooding the similarity join with jaccard=1.0 pairs.
    val c = FuzzySearch.corpus(spark, dir)
      .groupBy(col("clean_value")).agg(min(col("id")).as("id"))
      .select(col("id"), charNgramSet(col("clean_value"), 3).as("grams"))
      .filter(size(col("grams")) > 0)
    // Global trigram document frequency — bounded by the trigram alphabet
    // (≤ 37³ distinct keys at ANY corpus size) → always broadcastable.
    val df = c.select(col("id"), explode(col("grams")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
    // Re-sort each record's grams by (df, gram); take the prefix.
    val withDf = c.select(col("id"), explode(col("grams")).as("g"))
      .join(broadcast(df), "g")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .withColumn("setsize", count(lit(1)).over(Window.partitionBy(col("id"))))
      // -1e-9 slop: double rounding can push t*s just ABOVE the true
      // rational (0.55*100 = 55.000000000000007 → ceil 56), shortening the
      // prefix and silently dropping true pairs. Under-rounding merely
      // lengthens the prefix (more candidates) — recall-safe because the
      // exact-verify step defines the result.
      .withColumn("prefix_len",
        col("setsize") - ceil(lit(threshold) * col("setsize") - 1e-9) + 1)
    // One shuffle on the prefix trigram; both self-join sides reuse it.
    val prefixes = withDf.filter(col("rank") <= col("prefix_len"))
      .select(col("id"), col("g"))
      .repartition(col("g"))
    // Candidate pairs share a prefix trigram.
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Exact verify.
    val ga = c.select(col("id").as("id_a"), col("grams").as("grams_a"))
    val gb = c.select(col("id").as("id_b"), col("grams").as("grams_b"))
    cand.join(ga, "id_a").join(gb, "id_b")
      .withColumn("shared", size(array_intersect(col("grams_a"), col("grams_b"))).cast("long"))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (size(col("grams_a")) + size(col("grams_b")) - col("shared")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force oracle (index self-join, no prefix filter): correct
    * because verification, not candidate pruning, defines the result. */
  def jaccardPairsOracle(threshold: Double): String = {
    val sset = OracleSql.trigramSet("clean_value")
    s"""WITH corpus AS (${FuzzySearch.corpusCte}),
       |canon AS (SELECT clean_value, min(id) AS id FROM corpus GROUP BY clean_value),
       |g AS (SELECT id, $sset AS grams FROM canon WHERE len($sset) > 0),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         len(list_intersect(a.grams, b.grams))::BIGINT AS shared,
       |         len(a.grams) + len(b.grams) AS total
       |  FROM g a JOIN g b ON a.id < b.id),
       |j AS (SELECT id_a, id_b,
       |             round(shared::DOUBLE / (total - shared)::DOUBLE, 6) AS jaccard
       |      FROM pairs WHERE shared > 0)
       |SELECT id_a, id_b, jaccard FROM j
       |WHERE jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------- trigram containment (A⊆B)

  // Containment C(A,B) = |A∩B| / |A| — the ASYMMETRIC near-dup measure
  // Jaccard misses: a record quoted whole inside a longer one scores
  // containment ≈ 1 while its Jaccard ≈ |A|/|B| can sit far below any
  // sane threshold. Ordered pairs (id_a ⊆ id_b, id_a ≠ id_b).
  //
  // Same exact-prefix-filter shape as [[jaccardPairs]], asymmetric: only
  // the CONTAINED side can be prefix-pruned (any pair with C ≥ t shares
  // one of A's s_a − ⌈t·s_a⌉ + 1 rarest trigrams — the containment/ALL
  // variant of the prefix bound), while the containing side must index
  // every trigram (no sound df cut exists for B: a superset may touch A
  // only through A's rare grams). The candidate join is therefore
  // Σ_a prefix_a·df(g) — rarest-gram-bounded like PPJoin but with full
  // B-side postings; at 100 TB the admission-control precedent
  // (`fuzzy_batch_cost`'s predicted candidate volume over the SAME df
  // relation) is the knob that decides when to serve a stop-gram-cut
  // variant instead. Verification recomputes exact containment, so the
  // pruning never defines the result — a brute-force oracle gates it.
  // See [[containmentPairs]].
  /** The canonical (id, grams) relation both containment faces share. */
  private[graft] def canonGrams(spark: SparkSession, dir: String): DataFrame =
    FuzzySearch.corpus(spark, dir)
      .groupBy(col("clean_value")).agg(min(col("id")).as("id"))
      .select(col("id"), charNgramSet(col("clean_value"), 3).as("grams"))
      .filter(size(col("grams")) > 0)

  /** The asymmetric containment pair join over the canonical corpus —
    * design rationale in the section doc above. */
  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double): DataFrame =
    containmentPairsOver(canonGrams(spark, dir), threshold)

  /** Core over any (id, grams) relation — split out so the spec can pin
    * the asymmetric catch (quote-inclusion pairs Jaccard misses) and
    * prefix-filter exactness on a crafted corpus. */
  private[graft] def containmentPairsOver(c: DataFrame,
                                          threshold: Double): DataFrame =
    containmentCore(c, threshold, None)

  /** Shared candidate-gen + exact-verify spine. `allowed`: the OPT-IN
    * df-cap — when present, grams outside it are dropped from BOTH
    * candidate sides (the stop-gram semantics: pairs reachable only
    * through boilerplate-hot grams are lost BY DESIGN, bounding the join
    * at Σ_a prefix_a·min(df, cap) instead of Σ_a prefix_a·df); exact
    * verification over the FULL gram sets still defines every surviving
    * pair's score. Rank/prefix are computed over all grams either way,
    * so the capped prefix is a subset of the uncut one. */
  private[graft] def containmentCore(c: DataFrame, threshold: Double,
                                     allowed: Option[DataFrame]): DataFrame = {
    val df = c.select(col("id"), explode(col("grams")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
    val withDf = c.select(col("id"), explode(col("grams")).as("g"))
      .join(broadcast(df), "g")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .withColumn("setsize", count(lit(1)).over(Window.partitionBy(col("id"))))
      // Same -1e-9 ceil slop as jaccardPairs: under-rounding only widens
      // the prefix (recall-safe; exact verify defines the output).
      .withColumn("prefix_len",
        col("setsize") - ceil(lit(threshold) * col("setsize") - 1e-9) + 1)
    // One shuffle on the gram; the contained-side prefix probes the full
    // containing-side postings (both derive from the same exchange).
    val grams0 = withDf.select(col("id"), col("g"), col("rank"), col("prefix_len"))
    val grams = allowed.fold(grams0)(a => grams0.join(broadcast(a), "g"))
      .repartition(col("g"))
    val prefixes = grams.filter(col("rank") <= col("prefix_len"))
      .select(col("id").as("id_a"), col("g"))
    val cand = prefixes.join(grams.select(col("id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val ga = c.select(col("id").as("id_a"), col("grams").as("grams_a"))
    val gb = c.select(col("id").as("id_b"), col("grams").as("grams_b"))
    cand.join(ga, "id_a").join(gb, "id_b")
      .withColumn("shared",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("long"))
      .withColumn("containment", round(col("shared").cast("double") /
        size(col("grams_a")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force ordered-pair oracle — correct because exact verification,
    * not the prefix pruning, defines the result. */
  def containmentPairsOracle(threshold: Double): String = {
    val sset = OracleSql.trigramSet("clean_value")
    s"""WITH corpus AS (${FuzzySearch.corpusCte}),
       |canon AS (SELECT clean_value, min(id) AS id FROM corpus GROUP BY clean_value),
       |g AS (SELECT id, $sset AS grams FROM canon WHERE len($sset) > 0),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         len(list_intersect(a.grams, b.grams))::BIGINT AS shared,
       |         len(a.grams) AS size_a
       |  FROM g a JOIN g b ON a.id <> b.id),
       |c AS (SELECT id_a, id_b,
       |             round(shared::DOUBLE / size_a::DOUBLE, 6) AS containment
       |      FROM pairs WHERE shared > 0)
       |SELECT id_a, id_b, containment FROM c
       |WHERE containment >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // --------------------------- containment admission control (df screen)

  /** Write-once set-gram document-frequency artifact over the CANONICAL
    * corpus — the containment screen's stats relation (gram-space-bounded
    * ≤ 37³ rows, broadcast-sized forever). NOT the fuzzy `graft_gramdf`
    * (multiset trigram occurrences over the raw corpus): containment's
    * candidate count is per-DOCUMENT set df over canonical rows, and the
    * prediction below is exact only against this relation. NO append
    * face: canonicalization (min id per clean_value) is corpus-global —
    * a new batch can displace an existing canonical row — so an ingest
    * increment is staleness and `ensure` rebuilds (the docmeta
    * precedent). */
  val ContainmentDfVersion = 1

  private[graft] def ensureContainmentDf(spark: SparkSession, dir: String,
                                         version: Int = ContainmentDfVersion): String =
    graft.Materialize.ensure(spark, "graft_ctngramdf", dir, version) { p =>
      canonGrams(spark, dir)
        .select(explode(col("grams")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }

  /** Candidate-volume PREDICTION for the containment self-join — the
    * admission-control face `fuzzy_batch_cost` pioneered, over the
    * asymmetric posting shape: candidate rows = Σ over prefix rows (a,g)
    * of df(g), with df folded from the broadcast stats artifact. The sum
    * is not a heuristic — it EQUALS the row count the candidate join
    * emits before the a≠b filter (each prefix row matches exactly df(g)
    * posting rows; OperatorParitySpec pins equality against the actual
    * join at sf0.001) — but costs one narrow pass over the corpus grams
    * instead of materializing the join, which on a boilerplate-hot
    * corpus is the difference between linear and quadratic. */
  def containmentCandidateCost(spark: SparkSession, dir: String,
                               threshold: Double): DataFrame =
    containmentCandidateCostOver(canonGrams(spark, dir),
      Tables.parquet(spark, ensureContainmentDf(spark, dir)), threshold)

  /** The prediction core over explicit (id, grams) + (g, df) relations —
    * the spelling the dispatcher runs and the one SCALE.md's
    * containment-budget numbers were measured with (§The containment
    * budget earned for the asymmetric join); the spec's independent
    * recount stays separate on purpose. */
  private[graft] def containmentCandidateCostOver(c: DataFrame, dfRel: DataFrame,
                                                  threshold: Double): DataFrame = {
    val withDf = c.select(col("id"), explode(col("grams")).as("g"))
      .join(broadcast(dfRel), "g")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .withColumn("setsize", count(lit(1)).over(Window.partitionBy(col("id"))))
      .withColumn("prefix_len",
        col("setsize") - ceil(lit(threshold) * col("setsize") - 1e-9) + 1)
    withDf.filter(col("rank") <= col("prefix_len"))
      .agg(coalesce(sum(col("df")), lit(0L)).cast("long").as("candidate_rows"))
      .crossJoin(broadcast(c.agg(count(lit(1)).cast("long").as("n_docs"))))
  }

  def containmentCandidateCostOracle(threshold: Double): String = {
    val sset = OracleSql.trigramSet("clean_value")
    s"""WITH corpus AS (${FuzzySearch.corpusCte}),
       |canon AS (SELECT clean_value, min(id) AS id FROM corpus GROUP BY clean_value),
       |g AS (SELECT id, $sset AS grams FROM canon WHERE len($sset) > 0),
       |e AS (SELECT id, unnest(grams) AS g FROM g),
       |dfr AS (SELECT g, count(*)::BIGINT AS df FROM e GROUP BY g),
       |ranked AS (SELECT e.id, e.g, dfr.df,
       |             row_number() OVER (PARTITION BY e.id ORDER BY dfr.df, e.g) AS rank,
       |             count(*) OVER (PARTITION BY e.id) AS setsize
       |           FROM e JOIN dfr USING (g))
       |SELECT coalesce(sum(df), 0)::BIGINT AS candidate_rows,
       |       (SELECT count(*) FROM g)::BIGINT AS n_docs
       |FROM ranked
       |WHERE rank <= setsize - ceil($threshold * setsize - 1e-9) + 1""".stripMargin
  }

  /** The df-capped containment screen — the stop-gram cut on the
    * asymmetric join: grams held by more than n/`dfCapInverse` of the
    * canonical docs are dropped from BOTH candidate sides (exact-integer
    * compare df·inv ≤ n, the spanDedupCapped convention), so the
    * candidate volume is bounded by cap·Σ prefix_a regardless of how
    * boilerplate-hot the corpus is. Results CHANGE by design — pairs
    * reachable only through hot grams stop surfacing — so the variant
    * has its own mirroring oracle and OperatorParitySpec pins that the
    * cut bites on a crafted hot corpus. */
  def containmentPairsCapped(spark: SparkSession, dir: String,
                             threshold: Double, dfCapInverse: Long): DataFrame =
    cappedWithDf(canonGrams(spark, dir), threshold, dfCapInverse,
      Tables.parquet(spark, ensureContainmentDf(spark, dir)))

  private[graft] def cappedWithDf(c: DataFrame, threshold: Double, dfCapInverse: Long,
                           dfRel: DataFrame): DataFrame = {
    val n = broadcast(c.agg(count(lit(1)).as("n")))
    val allowed = dfRel.crossJoin(n)
      .filter(col("df") * dfCapInverse <= col("n"))
      .select(col("g"))
    containmentCore(c, threshold, Some(allowed))
  }

  def containmentPairsCappedOracle(threshold: Double,
                                   dfCapInverse: Long): String = {
    val sset = OracleSql.trigramSet("clean_value")
    s"""WITH corpus AS (${FuzzySearch.corpusCte}),
       |canon AS (SELECT clean_value, min(id) AS id FROM corpus GROUP BY clean_value),
       |g AS (SELECT id, $sset AS grams FROM canon WHERE len($sset) > 0),
       |e AS (SELECT id, unnest(grams) AS g FROM g),
       |dfr AS (SELECT g, count(*)::BIGINT AS df FROM e GROUP BY g),
       |nn AS (SELECT count(*)::BIGINT AS n FROM g),
       |allowed AS (SELECT g FROM dfr, nn WHERE df * $dfCapInverse <= nn.n),
       |ranked AS (SELECT e.id, e.g, dfr.df,
       |             row_number() OVER (PARTITION BY e.id ORDER BY dfr.df, e.g) AS rank,
       |             count(*) OVER (PARTITION BY e.id) AS setsize
       |           FROM e JOIN dfr USING (g)),
       |pre AS (SELECT id, g FROM ranked
       |        WHERE rank <= setsize - ceil($threshold * setsize - 1e-9) + 1),
       |prea AS (SELECT pre.id, pre.g FROM pre JOIN allowed USING (g)),
       |posta AS (SELECT e.id, e.g FROM e JOIN allowed USING (g)),
       |cand AS (SELECT DISTINCT prea.id AS id_a, posta.id AS id_b
       |         FROM prea JOIN posta USING (g) WHERE prea.id <> posta.id),
       |v AS (SELECT c.id_a, c.id_b,
       |        round(len(list_intersect(a.grams, b.grams))::DOUBLE
       |              / len(a.grams)::DOUBLE, 6) AS containment
       |      FROM cand c JOIN g a ON a.id = c.id_a JOIN g b ON b.id = c.id_b)
       |SELECT id_a, id_b, containment FROM v
       |WHERE containment >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Candidate-row budget for [[containmentPairsAuto]] — the same
    * measured curve as `fuzzy_batch_auto`'s (SCALE.md
    * §admission-control: candidate verify ≈ 0.33 µs/row + fixed, the
    * capped screen nearly flat), so the same 8 M crossover keeps the
    * EXACT uncut semantics wherever it is not measurably the slower
    * plan. */
  val ContainmentCandidateBudget: Long = 8L * 1000 * 1000

  /** Memo for the dispatch prediction — `.head()` is a construction-time
    * action (the batchFuzzySearchAuto precedent); keyed by the input and
    * stats-artifact fingerprints so an ingest or rebuild re-predicts,
    * AND by the threshold: a lower threshold lengthens every prefix, so
    * a prediction cached for one threshold must never dispatch another
    * (the fuzzy memo is threshold-free only because its cost model takes
    * no such parameter). */
  private val ctCostMemo =
    new scala.collection.concurrent.TrieMap[(String, String, String, Double), Long]

  /** The dispatching containment entry — admission control WIRED: run
    * the bounded prediction, then choose the plan. Below budget: the
    * uncut prefix-filtered join (exact semantics). Above: the df-capped
    * screen (the documented recall cut a boilerplate-dominated corpus
    * forces). The oracle twin dispatches the same way in SQL, so the
    * gate checks the dispatch itself, not just the branches. */
  def containmentPairsAuto(spark: SparkSession, dir: String, threshold: Double,
                           dfCapInverse: Long,
                           budget: Long = ContainmentCandidateBudget): DataFrame = {
    val dp = ensureContainmentDf(spark, dir)
    val predicted = ctCostMemo.getOrElseUpdate(
      (dir, graft.Materialize.fingerprint(spark, dir),
        graft.Materialize.fingerprint(spark, dp), threshold),
      containmentCandidateCost(spark, dir, threshold).head().getLong(0))
    if (predicted <= budget) containmentPairs(spark, dir, threshold)
    else containmentPairsCapped(spark, dir, threshold, dfCapInverse)
  }

  def containmentPairsAutoOracle(threshold: Double, dfCapInverse: Long,
                                 budget: Long = ContainmentCandidateBudget): String =
    s"""WITH cost AS (${containmentCandidateCostOracle(threshold)})
       |SELECT id_a, id_b, containment
       |FROM (
       |  SELECT * FROM (${containmentPairsOracle(threshold)}) u
       |  WHERE (SELECT candidate_rows FROM cost) <= $budget
       |  UNION ALL
       |  SELECT * FROM (${containmentPairsCappedOracle(threshold, dfCapInverse)}) s
       |  WHERE (SELECT candidate_rows FROM cost) > $budget
       |) d
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------- batch-vs-corpus containment ingest screen

  /** Batch-vs-corpus containment screen — the ingest-gate shape of the
    * asymmetric measure (the dedup_incremental design on containment):
    * each ARRIVING record is checked for near-containment (C ≥ t) inside
    * any STANDING canonical record, without ever running the corpus
    * self-join. Candidate gen is the one-sided prefix rule: an arriving
    * record A with C(A,B) ≥ t must share one of ANY
    * (s_a − ⌈t·s_a⌉ + 1)-subset of its grams with B — the bound holds
    * for an arbitrary subset of that size, so the rarest-by-corpus-df
    * choice is an efficiency decision, never a recall one (grams unseen
    * in the corpus rank first and cost nothing: no posting can match
    * them, and the bound still guarantees a hit on a seen member).
    * Exact verification defines the output — brute-force oracle.
    *
    * Scale shape: the batch side is an ingest micro-batch (tiny); df
    * folds from the gram-space-bounded stats and broadcasts; the
    * candidate join probes the corpus posting relation with the batch's
    * prefix grams (at 100 TB: the posting artifact under a batch-gram
    * bloom — the fuzzy index's serving read). The corpus side never
    * self-joins. */
  def containmentScreen(spark: SparkSession, dir: String,
                        threshold: Double): DataFrame = {
    val c = canonGrams(spark, dir)
    containmentScreenOver(
      c.filter(pmod(col("id"), lit(IncMod)) === IncRem),
      c.filter(pmod(col("id"), lit(IncMod)) =!= IncRem),
      threshold)
  }

  /** The screen core over explicit batch/corpus (id, grams) relations —
    * the core of the gate row. A row's result depends only on
    * itself vs the standing corpus, so per-micro-batch evaluation is
    * exact under any chunking. */
  private[graft] def containmentScreenOver(batch: DataFrame, corpus: DataFrame,
                                           threshold: Double): DataFrame = {
    val post = corpus.select(col("id").as("id_b"), explode(col("grams")).as("g"))
    val dfRel = post.groupBy("g").agg(count(lit(1)).as("df"))
    val qg = batch.select(col("id").as("qid"), explode(col("grams")).as("g"))
      .join(broadcast(dfRel), Seq("g"), "left")
      .withColumn("dfx", coalesce(col("df"), lit(0L)))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dfx"), col("g"))))
      .withColumn("setsize", count(lit(1)).over(Window.partitionBy(col("qid"))))
      .withColumn("prefix_len",
        col("setsize") - ceil(lit(threshold) * col("setsize") - 1e-9) + 1)
    val cand = qg.filter(col("rank") <= col("prefix_len"))
      .select(col("qid"), col("g"))
      .join(post, "g")
      .select(col("qid"), col("id_b")).distinct()
    val ga = batch.select(col("id").as("qid"), col("grams").as("grams_a"))
    val gb = corpus.select(col("id").as("id_b"), col("grams").as("grams_b"))
    cand.join(ga, "qid").join(gb, "id_b")
      .withColumn("containment",
        round(size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
          size(col("grams_a")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("qid"), col("id_b").as("id"), col("containment"))
      .orderBy(col("qid"), col("id"))
  }

  /** Brute-force ordered oracle over the same deterministic split —
    * exact verification, not the prefix probe, defines the result. */
  def containmentScreenOracle(threshold: Double): String = {
    val sset = OracleSql.trigramSet("clean_value")
    s"""WITH corpus AS (${FuzzySearch.corpusCte}),
       |canon AS (SELECT clean_value, min(id) AS id FROM corpus GROUP BY clean_value),
       |g AS (SELECT id, $sset AS grams FROM canon WHERE len($sset) > 0),
       |b AS (SELECT * FROM g WHERE id % $IncMod = $IncRem),
       |s AS (SELECT * FROM g WHERE id % $IncMod <> $IncRem),
       |v AS (SELECT b.id AS qid, s.id AS id,
       |        round(len(list_intersect(b.grams, s.grams))::DOUBLE
       |              / len(b.grams)::DOUBLE, 6) AS containment
       |      FROM b JOIN s ON true)
       |SELECT qid, id, containment FROM v
       |WHERE containment >= $threshold
       |ORDER BY qid, id""".stripMargin
  }

  // ------------------------------------------------------------- MinHash

  /** Signature length — the ESTIMATOR's sample count. Round 14 doubled it
    * from 16 after the diversity replica measured the banded candidates'
    * precision at 0.354: the false positives were pure estimation noise
    * (est ≥ τ with true J < τ; σ(est) = √(J(1−J)/K) ≈ 0.125 at K=16),
    * not banding over-generation. BANDING is untouched — [[Bands]] ×
    * [[RowsPerBand]] = 16 hashes to the SAME band keys as before (slices
    * read the signature's first 16 positions), so the candidate set is
    * bit-identical and candidate recall provably unchanged; only the
    * agreement estimate sharpens (σ ≈ 0.088). Signature compute is
    * row-local at ingest; stored sig arrays double (still 256 bytes). */
  val MinHashK = 32
  /** Banding consumes the whole 32-hash signature: 8 bands × 4 rows.
    * Candidate-catch probability 1−(1−J⁴)^8 — at the 0.5 threshold 0.40
    * per pair vs 0.23 at the old 4-band layout (under the CORRELATED
    * seeds the old layout read as catch-everything; sound seeds priced
    * banding honestly, and the extra bands buy borderline-J recall at
    * one more band row per doc). */
  val Bands = 8
  val RowsPerBand = 4
  val ShingleWords = 3
  /** Permutation params: h_i(x) = (x * A(i) + B(i)) mod HashMod — the
    * canonical splitmix-seeded family (see MinHashSignature.permA for the
    * round-14 rationale: the old arithmetic-progression seeds broke
    * min-wise independence). */
  def permA(i: Int): Long = graft.functions.MinHashSignature.permA(i)
  def permB(i: Int): Long = graft.functions.MinHashSignature.permB(i)

  /** MinHash signatures over word-3-shingles of documents.text — ONE
    * custom-expression eval per row (tight JVM loops; see
    * graft.functions.MinHashSignature for why the composed built-in HOF
    * pipeline was ~30× slower). VectorKernelSpec keeps the composed form
    * as the cross-check. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOver(Tables.documents(spark, dir))

  private[graft] def minhashSignaturesOver(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      graft.functions.MinHashSignature.minhashSignature(
        lower(col("text")), ShingleWords, MinHashK).as("sig"))

  /** est-Jaccard of two signature columns — fraction of agreeing
    * positions, via the native [[graft.functions.SigAgreeExpr]] kernel
    * (r16; the composed `size(filter(sequence(1,K), …))` HOF form it
    * replaces ran k interpreted lambda calls PER CANDIDATE PAIR inside
    * every band-bucket join — guide §4, the tokenWindows precedent).
    * VectorKernelSpec pins bit-parity against the composed twin. */
  private[graft] def sigEst(a: org.apache.spark.sql.Column,
                            b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.SigAgreeExpr.sigAgreeF(a, b, MinHashK)
      .cast("double") / MinHashK.toDouble

  /** LSH banding: near-dup candidate pairs from shared band buckets, with
    * the estimated Jaccard = fraction of agreeing signature positions.
    * Plan: explode 4 band hashes per doc → ONE shuffle on (band, hash) that
    * both self-join sides consume via ReusedExchange (without the explicit
    * repartition, each side would recompute the full signature pipeline) —
    * the classic linear-cost near-dup join; no O(n²) stage anywhere.
    * est_jaccard is computed before the dedup so `distinct` runs on narrow
    * (doc_a, doc_b, est) rows instead of dragging two 16-long signature
    * arrays through the shuffle. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(spark, dir)
    val bands = sigs.select(col("doc_id"), col("sig"),
        posexplode(array((0 until Bands).map { b =>
          polyHashLongs(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand))
        }: _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
      .repartition(col("band_idx"), col("band_hash"))
    val est = sigEst(col("a.sig"), col("b.sig"))
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        est.as("est_jaccard"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** CTE chain `tok, sh, shh, sig, bands` reproducing the signature +
    * band derivation in DuckDB — shared by the pairs oracle and the
    * incremental (batch-vs-corpus) oracle so the spellings cannot drift. */
  def minhashBandCtes: String = {
    val P = HashMod
    val toks = OracleSql.tokens("lower(text)")
    val shingles = s"""(CASE WHEN len(tk) <= $ShingleWords THEN [array_to_string(tk, ' ')]
      | ELSE list_transform(range(1, len(tk) - ${ShingleWords - 2}), i -> array_to_string(tk[i:i+${ShingleWords - 1}], ' '))
      | END)""".stripMargin.replaceAll("\n", " ")
    val shHash = s"list_distinct(list_transform(shingles, s -> ${OracleSql.polyHash("s")}))"
    val sigList = (0 until MinHashK).map { i =>
      s"list_min(list_transform(sh, h -> (h * ${permA(i)} + ${permB(i)}) % $P))"
    }.mkString("[", ",\n         ", "]")
    val bandExprs = (0 until Bands).map { b =>
      val Seq(m1, m2, m3, m4) = (1 to RowsPerBand).map(r => s"sig[${b * RowsPerBand + r}]")
      s"((((($m1 * 31 + $m2) % $P) * 31 + $m3) % $P * 31 + $m4) % $P)"
    }
    val bandsUnion = bandExprs.zipWithIndex.map { case (e, i) =>
      s"SELECT doc_id, sig, $i AS band_idx, $e AS band_hash FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |sh AS (SELECT doc_id, $shingles AS shingles FROM tok),
       |shh AS (SELECT doc_id, $shHash AS sh FROM sh),
       |sig AS (SELECT doc_id, $sigList AS sig FROM shh),
       |bands AS (
       |  $bandsUnion)""".stripMargin
  }

  def minhashPairsOracle: String =
    s"""WITH $minhashBandCtes,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |       len(list_filter(range(1, ${MinHashK + 1}), i -> sig_a[i] = sig_b[i]))::DOUBLE / $MinHashK.0 AS est_jaccard
       |FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------- embedding-cosine near-dup

  val EmbDupPlanes = 8

  /** Embedding-cosine near-dup pairs: candidates share an 8-plane LSH
    * bucket (equi-join — linear, not O(n²)), exact cosine verifies.
    * The oracle replicates the bucket step because the pruning is
    * observable semantics here (cross-bucket pairs are by-design missed;
    * recall is tuned with bands/planes at scale). */
  def embeddingNearDups(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    // One shuffle on the bucket key; both self-join sides consume the same
    // exchange (ReusedExchange) instead of recomputing signatures twice.
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        Similarity.lshSignature(col("embedding"), EmbDupPlanes).as("bucket"))
      .repartition(col("bucket"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("bucket"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim", round(Similarity.cosine(col("emb_a"), col("emb_b")), 4))
      // NaN guard (zero-magnitude embedding → 0/0): Spark orders NaN out of
      // >=, DuckDB orders NaN above all values — exclude explicitly on both.
      .filter(col("cosine_sim") >= threshold && !isnan(col("cosine_sim")))
      .select(col("id_a"), col("id_b"), col("cosine_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def embeddingNearDupsOracle(threshold: Double): String =
    s"""WITH b AS (SELECT vec_id, embedding,
       |                  ${Similarity.lshSignatureSql("embedding", EmbDupPlanes)} AS bucket
       |           FROM embeddings),
       |p AS (SELECT a.vec_id AS id_a, x.vec_id AS id_b,
       |             round(${Similarity.cosineSql("a.embedding", "x.embedding")}, 4) AS cosine_sim
       |      FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id)
       |SELECT id_a, id_b, cosine_sim FROM p
       |WHERE cosine_sim >= $threshold AND NOT isnan(cosine_sim)
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------- end-to-end dedup pipeline

  val PipelineEstThreshold = 0.5

  /** The composite training-data dedup pass, one declarative plan:
    *  1. exact canonicalization on the normalized text (min doc_id wins);
    *  2. MinHash-LSH near-dup pairs (est jaccard >= threshold);
    *  3. per doc, canonical = least(self, exact canon, min near-dup
    *     partner) — single-pass canonicalization (one hop, NOT transitive
    *     closure: chains canonicalize over repeated passes, the standard
    *     trade at corpus scale where each pass is one linear job).
    * Output: every doc with its canonical id and whether it survives. */
  def dedupPipeline(spark: SparkSession, dir: String): DataFrame =
    dedupPipelineOver(Tables.documents(spark, dir))

  private[graft] def dedupPipelineOver(d: DataFrame): DataFrame = {
    val norm = array_join(tokens(cleanEntity(col("text"))), " ")
    val docs = d.select(col("doc_id"), norm.as("norm"))
    val exact = docs.groupBy(col("norm")).agg(min(col("doc_id")).as("exact_canon"))
    val withExact = docs.join(exact, "norm").select(col("doc_id"), col("exact_canon"))
    val nearMin = nearCanonBySig(minhashSignaturesOver(d))
      .filter(col("near_canon").isNotNull)
    withExact.join(nearMin, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_canon"), col("near_canon"),
        least(col("doc_id"), col("exact_canon"),
          coalesce(col("near_canon"), col("doc_id"))).as("canonical_id"))
      .withColumn("is_canonical", col("canonical_id") === col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** The pipeline's near-dup canonical candidate per doc, factored through
    * DISTINCT signatures — the round-9 skew-rehearsal fix for the one
    * quadratic surface the Zipf-hot probe exposed: the previous spelling
    * consumed `minhashPairs`, whose output on a hot near-dup cluster of B
    * docs is B(B−1)/2 pairs (measured: 200‰ hot docs at sf0.1 → 499,657
    * pairs, 99.9% from ONE bucket — a 1M-doc boilerplate cluster at
    * 100 TB would be 5·10¹¹ rows). Both pair-eligibility tests are pure
    * functions of the SIGNATURE (band co-membership: band hashes derive
    * from sig; est_jaccard: positional sig agreement), so the min-doc
    * derivation factors exactly through signature groups:
    *
    *  1. gmin = min doc_id per distinct sig (one exchange on sig; a hot
    *     cluster of identical docs collapses to ONE group row);
    *  2. the banded self-join runs over DISTINCT-sig band rows only
    *     (epm(g) = min partner-group gmin with est ≥ τ) — worst case
    *     (all sigs distinct) is exactly the old relation, hot case is
    *     group-count-quadratic, not doc-count-quadratic;
    *  3. near_canon(b) = min eligible doc < b, reassembled per doc from
    *     (gmin, epm) — for b ≠ gmin: least(gmin, epm) (a partner min
    *     above b cannot undercut gmin < b); for b = gmin: epm when
    *     epm < b (the own group has no smaller member).
    *
    * EXACT column-level parity with the pairs spelling (same oracle gates
    * the pipeline; OperatorParitySpec pins equality on the gate corpus
    * and on a crafted hot corpus). `minhashPairs` itself keeps its
    * contract — enumerating the pairs IS its output, necessarily
    * Ω(pairs); the pipeline just no longer pays that to label docs. */
  private[graft] def nearCanonBySig(sigs: DataFrame): DataFrame = {
    val withG = sigs.withColumn("gmin",
      min(col("doc_id")).over(Window.partitionBy(col("sig"))))
    val groups = withG.groupBy(col("gmin")).agg(first(col("sig")).as("sig"))
    val bandsD = groups.select(col("gmin"), col("sig"),
        posexplode(array((0 until Bands).map { b =>
          polyHashLongs(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand))
        }: _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
      .repartition(col("band_idx"), col("band_hash"))
    val est = sigEst(col("a.sig"), col("b.sig"))
    val epm = bandsD.as("a").join(bandsD.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.gmin") =!= col("b.gmin"))
      .filter(est >= PipelineEstThreshold)
      .groupBy(col("a.gmin").as("gmin")).agg(min(col("b.gmin")).as("epm"))
    withG.join(epm, Seq("gmin"), "left")
      .select(col("doc_id"),
        when(col("doc_id") === col("gmin"),
          when(col("epm") < col("doc_id"), col("epm")))
          .otherwise(least(col("gmin"), coalesce(col("epm"), col("gmin"))))
          .as("near_canon"))
  }

  def dedupPipelineOracle: String = {
    val norm = s"array_to_string(${graft.oracle.OracleSql.tokens(graft.oracle.OracleSql.clean("text"))}, ' ')"
    s"""WITH mp AS ($minhashPairsOracle),
       |n AS (SELECT doc_id, $norm AS norm FROM documents),
       |e AS (SELECT norm, min(doc_id) AS exact_canon FROM n GROUP BY norm),
       |we AS (SELECT n.doc_id, e.exact_canon FROM n JOIN e USING (norm)),
       |nm AS (SELECT doc_b AS doc_id, min(doc_a) AS near_canon FROM mp
       |       WHERE est_jaccard >= $PipelineEstThreshold GROUP BY doc_b)
       |SELECT we.doc_id, we.exact_canon, nm.near_canon,
       |       least(we.doc_id, we.exact_canon, coalesce(nm.near_canon, we.doc_id)) AS canonical_id,
       |       least(we.doc_id, we.exact_canon, coalesce(nm.near_canon, we.doc_id)) = we.doc_id AS is_canonical
       |FROM we LEFT JOIN nm USING (doc_id)
       |ORDER BY we.doc_id""".stripMargin
  }

  /** Version of the materialized single-pass label relation
    * (graft_labels) — bumps with any change to the label DERIVATION.
    * v2: splitmix minhash seeds (labels embed near-dup decisions; the
    * round-14 seed fix would otherwise serve correlated-seed merges from
    * a stale v1 — caught by the gate as dedup_transitive divergence). */
  val LabelsVersion = 2

  /** Transitive canonicalization (opt-in escalation of `dedupPipeline`):
    * `hops` rounds of pointer jumping over the single-pass labels —
    * l_{k+1}(x) = l_k(l_k(x)) — so canonical chains of length up to
    * 2^hops collapse to their root. Each round is ONE self-join on the
    * (doc_id, canonical_id) relation — a linear job, no iterative driver
    * loop, no unbounded convergence — which is the corpus-scale trade vs
    * full connected components. canonical_id is always itself a doc_id
    * (least() over existing ids), so the lookup join is total; the left
    * join + coalesce keeps the pass harmless if that invariant ever broke.
    * hops=3 collapses chains of length 8 — beyond anything a near-dup
    * similarity graph of real text produces. */
  def dedupPipelineTransitive(spark: SparkSession, dir: String, hops: Int = 3): DataFrame = {
    // Materialize the single-pass labels ONCE: the nested hop joins would
    // otherwise re-derive the whole minhash pipeline 2^hops times (each
    // join doubles the plan). At scale this is exactly how pointer jumping
    // runs: label table written per round, next round reads it — here the
    // narrow (doc_id, canonical_id) relation is written once and every hop
    // joins against the cheap scan.
    val labelPath = graft.Materialize.ensure(spark, "graft_labels", dir,
      version = LabelsVersion) { p =>
      dedupPipeline(spark, dir).select(col("doc_id"), col("canonical_id"))
        .write.mode("overwrite").parquet(p)
    }
    val base = Tables.parquet(spark, labelPath)
    // True pointer jumping: CURRENT labels on both join sides (depth
    // doubles per hop). The nested tree re-reads the label parquet 2^hops
    // times, but each read is the narrow materialized scan, not the
    // pipeline.
    val resolved = (1 to hops).foldLeft(base) { (l, _) =>
      val r = l.select(col("doc_id").as("r_id"), col("canonical_id").as("r_canon"))
      l.join(r, l("canonical_id") === r("r_id"), "left")
        .select(l("doc_id"), coalesce(col("r_canon"), l("canonical_id")).as("canonical_id"))
    }
    resolved
      .withColumn("is_canonical", col("canonical_id") === col("doc_id"))
      .orderBy(col("doc_id"))
  }

  def dedupPipelineTransitiveOracle(hops: Int = 3): String = {
    val hopCtes = (1 to hops).map { k =>
      val prev = if (k == 1) "h0" else s"h${k - 1}"
      s"""h$k AS (SELECT a.doc_id, coalesce(b.canonical_id, a.canonical_id) AS canonical_id
         |        FROM $prev a LEFT JOIN $prev b ON a.canonical_id = b.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (SELECT doc_id, canonical_id FROM ($dedupPipelineOracle)),
       |$hopCtes
       |SELECT doc_id, canonical_id, canonical_id = doc_id AS is_canonical
       |FROM h$hops
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------- SimHash

  val SimHashBits = 48

  /** SimHash fingerprint per document over word tokens (with multiplicity):
    * bit b is set iff Σ_tokens sign_b(polyHash(token)) >= 0, where
    * sign_b is the parity of an independent affine re-mix of the token
    * hash (same permutation family as minhash). NOT `(h >> b) & 1`:
    * polyHash values live below 2^30 (mod 1e9+7), so raw bit-extraction
    * would leave bits ≥ 30 constant and the low bits correlated — the
    * fingerprints would collapse into clusters and the banded pair join
    * would explode. Narrow map-only stage at any scale.
    *
    * Native kernel expression (SimHashFingerprint): OperatorParitySpec
    * pins it bit-equal to the composed twin, which runs `SimHashBits`
    * interpreted aggregate HOFs per row. */
  def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.SimHashFingerprint.simhashFingerprint(
          lower(col("text")), SimHashBits).as("simhash"))

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashSigs(spark, dir).orderBy(col("doc_id"))

  /** Fingerprint derivation as a nestable subquery (no WITH, no ORDER BY). */
  val simhashSigsSql: String = {
    val toks = OracleSql.tokens("lower(text)")
    val terms = (0 until SimHashBits).map { b =>
      val sign = s"((h * ${permA(b)} + ${permB(b)}) % $HashMod % 2) * 2 - 1"
      s"(CASE WHEN coalesce(list_sum(list_transform(th, h -> $sign)), 0) >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n       + ")
    // NULL text → NULL fingerprint (matches the kernel's null propagation;
    // bare coalesce(list_sum(NULL), 0) would set every bit instead).
    s"""SELECT doc_id,
       |       CASE WHEN th IS NULL THEN NULL ELSE ($terms) END::BIGINT AS simhash
       |FROM (SELECT doc_id, list_transform($toks, t -> ${OracleSql.polyHash("t")}) AS th FROM documents)""".stripMargin
  }

  def simhashOracle: String = s"$simhashSigsSql ORDER BY doc_id"

  val SimHashBands = 4          // 4 bands × 12 bits over the 48-bit print
  /** Band width/mask DERIVED from the bit/band constants — retuning
    * SimHashBits (this round went 24→48) must retune the band math with
    * it, or the LSH recall guarantee silently breaks while both engines
    * stay consistent (the gate cannot catch it). */
  val SimHashBandBits: Int = SimHashBits / SimHashBands
  val SimHashBandMask: Long = (1L << SimHashBandBits) - 1
  val SimHashHammingMax = 3

  /** SimHash near-dup pairs via banded LSH over the fingerprint: any pair
    * within hamming distance SimHashBands-1 of band-aligned error shares
    * at least one clean 12-bit band (pigeonhole: 4 bands, <=3 bit errors), so candidates come from
    * an EQUI-join on (band_idx, band_value) — never an all-pairs hamming
    * scan. Exact popcount(xor) verifies. Same physical shape as
    * dedup_minhash: one repartition on the band key consumed by both
    * self-join sides (ReusedExchange), linear in corpus size. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = simhashSigs(spark, dir)
    val bandStructs = (0 until SimHashBands).map { b =>
      struct(lit(b).as("band_idx"),
        shiftright(col("simhash"), SimHashBandBits * b)
          .bitwiseAND(lit(SimHashBandMask)).as("band_val"))
    }
    val bands = sig
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
      .repartition(col("band_idx"), col("band_val"))
    val a = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= SimHashHammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def simhashPairsOracle: String =
    s"""WITH sig AS ($simhashSigsSql),
       |bands AS (SELECT doc_id, simhash, unnest(range(0, $SimHashBands)) AS band_idx FROM sig),
       |b2 AS (SELECT doc_id, simhash, band_idx,
       |              (simhash >> (band_idx * $SimHashBandBits)::INT) & $SimHashBandMask AS band_val FROM bands),
       |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |             a.simhash AS sim_a, b.simhash AS sim_b
       |      FROM b2 a JOIN b2 b ON a.band_idx = b.band_idx
       |       AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
       |FROM p
       |WHERE bit_count(xor(sim_a, sim_b)) <= $SimHashHammingMax
       |ORDER BY doc_a, doc_b""".stripMargin

  val MinhashRecallThreshold = 0.5

  /** Count-join row budget for minhashRecall's exact-truth side: below it
    * the Σdf² posting self-join is the cheapest exact spelling (df ≈ 1
    * corpora); above it the PPJoin prefix spelling wins because its
    * candidate join excludes hot shingles. See the measured-crossover
    * comment in [[minhashRecall]]. */
  val RecallCandJoinBudget: Long = 8L * 1000 * 1000

  /** Memo for [[minhashRecall]]'s dispatch prediction — see the
    * construction-time-action note there. */
  private val recallCostMemo =
    new scala.collection.concurrent.TrieMap[(String, String), Long]

  /** Exact truth pairs, count-join spelling: shared shingles per pair =
    * count of equi-join matches (map-side-combinable group-by), so no
    * shingle ARRAY ever enters a shuffle and no per-pair array
    * intersection runs (the array-carrying spelling was 17s at sf0.1;
    * this is the same result from counting). Join output is Σ df² over
    * shingles — the dispatch in [[minhashRecall]] only picks this
    * spelling when that sum is predicted small. */
  private[graft] def recallTruthCountJoin(ds: DataFrame, ex: DataFrame): DataFrame = {
    val exR = ex.repartition(col("s"))
    val pairsIa = exR.as("a").join(exR.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("ia"))
    val sizes = ds.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    pairsIa
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(col("ia").cast("double") /
        (col("na") + col("nb") - col("ia")).cast("double") >= MinhashRecallThreshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Exact truth pairs, PPJoin rarest-prefix spelling — the same filter
    * dedup_jaccard spells (jaccardPairs): any pair with Jaccard >= t must
    * share one of each side's (n - ceil(t*n) + 1) globally-rarest
    * shingles, so the candidate self-join runs on rare postings only —
    * Σ df(prefix-shingle)² instead of Σ df², and a corpus-hot shingle
    * (ranked LAST in every doc's df-order) never reaches a prefix, so the
    * df² cliff cannot materialize. The exact array_intersect verify
    * defines the result, making this provably identical to the count-join
    * spelling (DedupSpec pins equality); arrays cross the verify shuffle,
    * but only |candidates| rows of them. */
  private[graft] def recallTruthPrefixFilter(ds: DataFrame, ex: DataFrame): DataFrame = {
    // Shingle document frequency: corpus-sized key space (unlike the ≤37³
    // trigram alphabet), so this join shuffles instead of broadcasting.
    val sdf = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ranked = ex.join(sdf, "s")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .withColumn("setsize", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      // -1e-9 slop as in jaccardPairs: under-rounding only lengthens the
      // prefix (recall-safe); over-rounding would drop true pairs.
      .withColumn("prefix_len", col("setsize") -
        ceil(lit(MinhashRecallThreshold) * col("setsize") - 1e-9) + 1)
    val prefixes = ranked.filter(col("rank") <= col("prefix_len"))
      .select(col("doc_id"), col("s"))
      .repartition(col("s"))
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(ds.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(ds.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("ia", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(col("ia").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("ia")).cast("double") >=
          MinhashRecallThreshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Measured quality of the minhash/LSH near-dup detector — the dedup
    * analogue of ann_ivf_recall's "measure, don't guess": ground truth is
    * the EXACT shingle-set Jaccard (computed only over pairs sharing at
    * least one shingle — pairs sharing none have Jaccard 0 and cannot
    * reach any positive threshold, so the equi-join candidate step loses
    * nothing), prediction is `minhashPairs` est ≥ the same threshold.
    * One row: truth/pred/hit counts with exact-integer-division
    * precision+recall. Shingle sets are the polyHash domain the signatures
    * minimize over, so truth and estimate measure the same space. */
  def minhashRecall(spark: SparkSession, dir: String): DataFrame = {
    // Native kernel — the composed HOF chain is re-evaluated by every
    // Generate branch of the self-join and was the entire 20s cost;
    // ShingleHashesSpec/VectorKernelSpec-style parity is pinned by the
    // composed-form equality test in DedupSpec.
    val sh = graft.functions.MinHashSignature.shingleHashes(
      lower(col("text")), ShingleWords)
    val ds = Tables.documents(spark, dir)
      .select(col("doc_id"), sh.as("sh")).filter(size(col("sh")) > 0)
    // Exact-truth side with ADMISSION CONTROL (the fuzzy_batch_cost
    // pattern): the count-join's output is exactly Σ_s df(s)² − Σ_s df(s)
    // (over 2) rows — predicted here from the gram-df aggregate (one
    // narrow pass, ≤ |postings| rows) BEFORE paying the join. Benign
    // corpora (df mostly 1, as the sf0.1 documents measure: Σdf² ≈ 2.5 M
    // over 260 k postings) keep the cheap count-join; a Zipf-hot shingle
    // escalates to the PPJoin rarest-prefix spelling, whose candidate
    // join excludes hot shingles from every doc's prefix. Both spellings
    // are EXACT (verification defines the result — DedupSpec pins their
    // equality), so the dispatch can never change the answer, only the
    // plan. Measured crossover at sf0.1 local[32]: count-join ≈ 1.5 µs ×
    // Σdf² rows; prefix path ≈ 10 s flat (df join + two windows + array
    // verify of the ~0.4 M surviving candidates) → escalate near 8 M.
    // Memoized (the `.head()` is an action at construction time): the
    // prediction derives only from the documents table, so it is keyed by
    // (dir, input fingerprint) — re-predicted when the input dir changes,
    // driver-side-only on every later construction.
    val ex = ds.select(col("doc_id"), explode(col("sh")).as("s"))
    val predicted = recallCostMemo.getOrElseUpdate(
      (dir, graft.Materialize.fingerprint(spark, dir)),
      ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .agg(coalesce(sum(col("df") * (col("df") - 1L)), lit(0L)))
        .head().getLong(0) / 2L)
    val truth =
      (if (predicted <= RecallCandJoinBudget) recallTruthCountJoin(ds, ex)
       else recallTruthPrefixFilter(ds, ex))
    // EXACT length bound (the PPJoin length filter): J(A,B) <= min/max of
    // the set sizes, so a pair whose size ratio is below the threshold is
    // provably sub-threshold and never needs est or verification — at the
    // round-14 diversity replica this alone removed 198 of 468 false
    // positives with recall untouched (a theorem, not a tuning).
    // 2*min >= max is the integer-exact spelling of min/max >= 0.5.
    val szs = ds.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val pred = minhashPairs(spark, dir)
      .filter(col("est_jaccard") >= MinhashRecallThreshold)
      .join(szs.select(col("doc_id").as("doc_a"), col("n_sh").as("la")), "doc_a")
      .join(szs.select(col("doc_id").as("doc_b"), col("n_sh").as("lb")), "doc_b")
      .filter(least(col("la"), col("lb")) * 2L >= greatest(col("la"), col("lb")))
      .select(col("doc_a").as("p_a"), col("doc_b").as("p_b"))
    // One full-outer pass counts all three sets — the left-join + separate
    // count spelling evaluates the whole minhash pipeline twice.
    truth.join(pred,
        col("doc_a") === col("p_a") && col("doc_b") === col("p_b"), "full_outer")
      .agg(count(col("doc_a")).as("n_truth"), count(col("p_a")).as("n_pred"),
        count(when(col("doc_a").isNotNull && col("p_a").isNotNull, 1)).as("n_hit"))
      .select(col("n_truth"), col("n_pred"), col("n_hit"),
        when(col("n_pred") === 0, lit(0.0))
          .otherwise(col("n_hit").cast("double") / col("n_pred").cast("double"))
          .as("precision"),
        when(col("n_truth") === 0, lit(0.0))
          .otherwise(col("n_hit").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
      .orderBy(col("n_truth"))
  }

  def minhashRecallOracle: String = {
    val toks = graft.oracle.OracleSql.tokens("lower(text)")
    val shingles = s"""(CASE WHEN len(tk) <= $ShingleWords THEN [array_to_string(tk, ' ')]
      | ELSE list_transform(range(1, len(tk) - ${ShingleWords - 2}), i -> array_to_string(tk[i:i+${ShingleWords - 1}], ' '))
      | END)""".stripMargin.replaceAll("\n", " ")
    val shHash = s"list_distinct(list_transform(shingles, s -> ${graft.oracle.OracleSql.polyHash("s")}))"
    val t = MinhashRecallThreshold
    s"""WITH mp AS ($minhashPairsOracle),
       |d AS (SELECT doc_id, $toks AS tk FROM documents),
       |sset AS (SELECT doc_id, $shHash AS sh
       |         FROM (SELECT doc_id, $shingles AS shingles FROM d)),
       |s2 AS MATERIALIZED (SELECT * FROM sset WHERE len(sh) > 0),
       |e AS MATERIALIZED (SELECT doc_id, unnest(sh) AS s FROM s2),
       |-- predicted pairs: est >= t plus the EXACT length bound
       |-- (J <= min/max, so 2*min >= max is implied by J >= 0.5 — a
       |-- theorem, never a recall trade; the operator applies the same)
       |pred AS (SELECT mp.doc_a, mp.doc_b FROM mp
       |         JOIN s2 a ON a.doc_id = mp.doc_a
       |         JOIN s2 b ON b.doc_id = mp.doc_b
       |         WHERE mp.est_jaccard >= $t
       |           AND 2 * least(len(a.sh), len(b.sh)) >= greatest(len(a.sh), len(b.sh))),
       |-- exact truth via the PPJoin prefix filter (the operator's
       |-- recallTruthPrefixFilter spelling, same (df, s) global order and
       |-- the same -1e-9 recall-safe slop): equal to the naive all-pairs
       |-- count-join by the prefix-filter theorem, but the candidate join
       |-- touches only each doc's rarest-prefix shingles — the naive
       |-- spelling's Sigma df^2 blows DuckDB's spill at 50k docs (the
       |-- round-13 sf1 rehearsal's second catch)
       |sdf AS (SELECT s, count(*) AS df FROM e GROUP BY s),
       |rk AS (SELECT e.doc_id, e.s,
       |              row_number() OVER (PARTITION BY e.doc_id
       |                                 ORDER BY sdf.df, e.s) AS rank,
       |              count(*) OVER (PARTITION BY e.doc_id) AS setsize
       |       FROM e JOIN sdf USING (s)),
       |pfx AS MATERIALIZED (SELECT doc_id, s FROM rk
       |       WHERE rank <= setsize - ceil($t * setsize - 1e-9) + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pfx a JOIN pfx b ON a.s = b.s AND a.doc_id < b.doc_id),
       |truth AS (SELECT doc_a, doc_b FROM cand
       |          JOIN s2 za ON za.doc_id = cand.doc_a
       |          JOIN s2 zb ON zb.doc_id = cand.doc_b
       |          WHERE len(list_intersect(za.sh, zb.sh))::DOUBLE /
       |                (len(za.sh) + len(zb.sh)
       |                 - len(list_intersect(za.sh, zb.sh)))::DOUBLE >= $t),
       |hit AS (SELECT count(*) AS n FROM truth JOIN pred USING (doc_a, doc_b))
       |SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
       |       (SELECT count(*) FROM pred)::BIGINT AS n_pred,
       |       (SELECT n FROM hit)::BIGINT AS n_hit,
       |       CASE WHEN (SELECT count(*) FROM pred) = 0 THEN 0.0
       |            ELSE (SELECT n FROM hit)::DOUBLE / (SELECT count(*) FROM pred)::DOUBLE
       |       END AS precision,
       |       CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 0.0
       |            ELSE (SELECT n FROM hit)::DOUBLE / (SELECT count(*) FROM truth)::DOUBLE
       |       END AS recall
       |ORDER BY n_truth""".stripMargin
  }

  /** Quality-based representative selection — the stage after
    * canonicalization in a real training pipeline: instead of "min doc_id
    * survives", each transitive cluster keeps its HIGHEST-QUALITY member
    * (ties → smallest doc_id). One equi-join of the narrow label relation
    * to the per-doc quality projection, then a per-cluster argmax as
    * `max(struct(quality, -doc_id))` — map-side combinable, one shuffle on
    * the cluster key, no window over the corpus. quality_score is a
    * per-row expression (bit-identical on both engines), so the argmax is
    * deterministic cross-engine. */
  def canonicalPick(spark: SparkSession, dir: String): DataFrame = {
    val labels = dedupPipelineTransitive(spark, dir)
      .select(col("doc_id"), col("canonical_id"))
    val quality = graft.operators.TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    labels.join(quality, "doc_id")
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality_score").as("q"), (-col("doc_id")).as("nd"))).as("best"))
      .select(col("canonical_id"), col("n_members"),
        (-col("best.nd")).as("rep_doc_id"), col("best.q").as("rep_quality"))
      .orderBy(col("canonical_id"))
  }

  def canonicalPickOracle: String =
    s"""WITH l AS (SELECT doc_id, canonical_id FROM (${dedupPipelineTransitiveOracle()})),
       |q AS (SELECT doc_id, quality_score FROM (${graft.operators.TextAnalysis.qualityScoreOracle})),
       |j AS (SELECT l.doc_id, l.canonical_id, q.quality_score
       |      FROM l JOIN q USING (doc_id)),
       |r AS (SELECT *,
       |        row_number() OVER (PARTITION BY canonical_id
       |                           ORDER BY quality_score DESC, doc_id) AS rn,
       |        count(*) OVER (PARTITION BY canonical_id) AS n_members
       |      FROM j)
       |SELECT canonical_id, n_members, doc_id AS rep_doc_id,
       |       quality_score AS rep_quality
       |FROM r WHERE rn = 1
       |ORDER BY canonical_id""".stripMargin

  // -------------------------------- segment-level boilerplate removal

  /** Segment ("line") width in tokens and the corpus-frequency cut. The
    * driver corpus has no newline structure, so the CCNet "line" unit is a
    * fixed-width token segment; the semantics are identical — drop any
    * segment whose exact normalized form recurs across the corpus at least
    * `SegDfCut` times, keep the rest in order. At sf0.01, cut=3 drops 133
    * of 5 638 segments across 91 docs (and at sf0.001/0.1 also fully
    * empties 2/18 docs — both branches gate-exercised). */
  val SegWin = 5
  val SegDfCut = 3

  /** CCNet-style boilerplate removal (Wenzek et al. 2020 dedups the corpus
    * by exact hashes of normalized LINES before any document-level pass):
    * tokenize, cut into consecutive `SegWin`-token segments, count each
    * segment's corpus-wide occurrences, drop segments occurring >=
    * `SegDfCut` times, and reconstruct each document from its surviving
    * segments in order.
    *
    * Scale shape: segment derivation is narrow (in-row transform); the
    * corpus frequency attaches via a WINDOW count over the segment
    * partition (one exchange on the segment key — data-derived, grows with
    * the corpus; same reasoning as text_bigram_score: the groupBy+re-join
    * spelling scans the corpus twice because column pruning breaks
    * exchange reuse); the per-doc reconstruction is one more shuffle on
    * doc_id with an in-aggregate ordered rebuild (`array_sort` of
    * (seg_idx, seg) structs — collect_list drops the null'd dropped
    * segments). The doc-emptied edge returns '' (md5-stable), not NULL. */
  def segmentDedup(spark: SparkSession, dir: String): DataFrame =
    segmentDedup(spark, dir, SegDfCut)

  /** Parameterized cut — DedupSpec pins the identity: with an
    * unreachable cut nothing drops and every doc reconstructs to its
    * exact normalized token stream (segmentation is lossless). */
  def segmentDedup(spark: SparkSession, dir: String, cut: Long): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tk = tokens(lower(col("text")))
    val nseg = floor((size(col("tk")) + lit(SegWin - 1)).cast("double") / SegWin.toDouble).cast("int")
    val segs = when(size(col("tk")) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(col("tk"), i * SegWin + 1, lit(SegWin)), " ")))
    val seg = d.select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"), posexplode(segs).as(Seq("seg_idx", "seg")))
    val withC = seg.withColumn("c",
      count(lit(1)).over(Window.partitionBy(col("seg"))))
    val rolled = withC.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("c") >= cut, 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("c") < cut,
            struct(col("seg_idx"), col("seg"))))),
          x => x("seg")), " ").as("kept"))
    d.select(col("doc_id")).join(rolled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        md5(coalesce(col("kept"), lit(""))).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  def segmentDedupOracle: String = {
    val toks = OracleSql.tokens("lower(text)")
    s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |seg AS (SELECT doc_id,
       |         unnest(range(0, (len(tk) + ${SegWin - 1}) // $SegWin)) AS seg_idx,
       |         unnest(list_transform(range(0, (len(tk) + ${SegWin - 1}) // $SegWin),
       |                i -> array_to_string(tk[i * $SegWin + 1 : i * $SegWin + $SegWin], ' '))) AS seg
       |        FROM tok),
       |w AS (SELECT doc_id, seg_idx, seg,
       |             count(*) OVER (PARTITION BY seg) AS c FROM seg),
       |r AS (SELECT doc_id, count(*) AS n_segments,
       |             sum(CASE WHEN c >= $SegDfCut THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |             coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
       |                      FILTER (WHERE c < $SegDfCut), '') AS kept
       |      FROM w GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(r.n_segments, 0) AS n_segments,
       |       coalesce(r.n_dropped, 0) AS n_dropped,
       |       md5(coalesce(r.kept, '')) AS kept_md5
       |FROM documents d LEFT JOIN r USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ----------------------------------- span-level exact substring dedup

  /** Window length for the duplicated-span detector — 8 tokens, the same
    * unit corpus_decontaminate probes (a span must contain a full window
    * to be flagged, so W is the minimum detectable duplicate length). */
  val SpanWin = 8

  /** Exact duplicated-SPAN detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * their suffix-array ExactSubstr pass, re-expressed relationally): a
    * token position is duplicated iff some `SpanWin`-token window through
    * it occurs at least twice ANYWHERE in the corpus (another doc or the
    * same one); overlapping/adjacent duplicated windows merge into
    * MAXIMAL spans per doc. The remaining dedup granularity between
    * whole-document (exact/minhash/simhash/semantic) and fixed segments
    * (dedup_lines): a doc that quotes 60 tokens of another doc gets
    * exactly that span flagged, not the whole doc and not arbitrary
    * segment boundaries.
    *
    * Scale shape: stride-1 windows explode in-row (bounded by corpus
    * token count); occurrence counts attach via a WINDOW count over the
    * window-key partition (ONE exchange on a data-derived key — the
    * suffix array's job done by hash grouping); span merging is the
    * classic gaps-and-islands: per-doc running `max(end)` over preceding
    * rows marks island breaks, a running sum numbers them — one exchange
    * on doc_id, all-integer arithmetic (bit-exact trivially). */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupOver(Tables.documents(spark, dir))

  /** The detector over an explicit (doc_id, text) relation — the core the
    * gate query runs; OperatorParitySpec drives it over crafted docs to
    * pin the island merge (multi-span, gap, adjacency, intra-doc repeat)
    * that the driver corpus's whole-doc duplicates never exercise. */
  def spanDedupOver(d: DataFrame): DataFrame = {
    val w = spanWindows(d)
    val dup = w
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("wkey"))))
      .filter(col("c") >= 2)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        (col("pos") + SpanWin - 1).cast("long").as("e"))
    mergeIslands(dup)
  }

  /** (doc_id, pos, wkey): the stride-1 window relation both span forms
    * share. */
  private def spanWindows(d: DataFrame): DataFrame =
    d.select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.tokenWindows(col("tk"), SpanWin))
          .as(Seq("pos", "wkey")))

  /** Gaps-and-islands merge of duplicated positions into maximal per-doc
    * spans — the shared tail of both span forms. */
  private def mergeIslands(dup: DataFrame): DataFrame = {
    val prevMax = max(col("e")).over(Window.partitionBy(col("doc_id"))
      .orderBy(col("pos")).rowsBetween(Window.unboundedPreceding, -1))
    val islands = dup
      .withColumn("brk",
        when(col("pos") > coalesce(prevMax, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), max(col("e")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** OPT-IN hot-window df-cap for the span detector — the stop-gram
    * machinery (FuzzySearch.batchFuzzySearchStopGram) applied to the
    * window-key occurrence count, mitigating the skew SCALE.md row 71
    * names: a boilerplate window shared by a large corpus fraction piles
    * its entire occurrence list into ONE window partition in the uncapped
    * form. Here counts come from a map-side-combinable hash AGGREGATE
    * (never a per-key window partition), and keys whose count exceeds
    * total/`dfCapInverse` are dropped from duplicate marking entirely —
    * the hot key's occurrence list never shuffles as one partition.
    * Results CHANGE by design (boilerplate windows stop flagging spans):
    * own operator + oracle applying the same exact-integer cut
    * (c * inv <= total), and OperatorParitySpec pins that the cut bites
    * on a crafted hot window. */
  def spanDedupCapped(spark: SparkSession, dir: String,
                      dfCapInverse: Long): DataFrame =
    spanDedupCappedOver(Tables.documents(spark, dir), dfCapInverse)

  private[graft] def spanDedupCappedOver(d: DataFrame,
                                         dfCapInverse: Long): DataFrame = {
    val w = spanWindows(d)
    val wc = w.groupBy(col("wkey")).agg(count(lit(1)).as("c"))
    val total = wc.agg(sum(col("c")).as("t"))
    val dupKeys = wc.crossJoin(broadcast(total))
      .filter(col("c") >= 2 && col("c") * dfCapInverse <= col("t"))
      .select(col("wkey"))
    val dup = w.join(dupKeys, "wkey")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        (col("pos") + SpanWin - 1).cast("long").as("e"))
    mergeIslands(dup)
  }

  def spanDedupCappedOracle(dfCapInverse: Long): String = {
    val toks = OracleSql.tokens("lower(text)")
    val W = SpanWin
    s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |w AS (SELECT doc_id,
       |        unnest(range(0, greatest(len(tk) - $W + 1, 0))) AS pos,
       |        unnest(${OracleSql.tokenWindows("tk", W)}) AS wkey
       |      FROM tok),
       |wc AS (SELECT wkey, count(*)::BIGINT AS c FROM w GROUP BY wkey),
       |tt AS (SELECT sum(c)::BIGINT AS t FROM wc),
       |dk AS (SELECT wkey FROM wc CROSS JOIN tt
       |       WHERE c >= 2 AND c * $dfCapInverse <= tt.t),
       |dup AS (SELECT doc_id, pos, pos + $W - 1 AS e FROM w JOIN dk USING (wkey)),
       |isl AS (SELECT doc_id, pos, e,
       |         CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |              THEN 1 ELSE 0 END AS brk
       |        FROM dup),
       |g AS (SELECT doc_id, pos, e,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |      FROM isl),
       |sp AS (SELECT doc_id, island, min(pos) AS span_start, max(e) AS span_end,
       |              count(*) AS n_windows
       |       FROM g GROUP BY doc_id, island)
       |SELECT doc_id, span_start, span_end, n_windows
       |FROM sp ORDER BY doc_id, span_start""".stripMargin
  }

  def spanDedupOracle: String = {
    val toks = OracleSql.tokens("lower(text)")
    val W = SpanWin
    s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |w AS (SELECT doc_id,
       |        unnest(range(0, greatest(len(tk) - $W + 1, 0))) AS pos,
       |        unnest(${OracleSql.tokenWindows("tk", W)}) AS wkey
       |      FROM tok),
       |c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY wkey) AS c FROM w),
       |dup AS (SELECT doc_id, pos, pos + $W - 1 AS e FROM c WHERE c >= 2),
       |isl AS (SELECT doc_id, pos, e,
       |         CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |              THEN 1 ELSE 0 END AS brk
       |        FROM dup),
       |g AS (SELECT doc_id, pos, e,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |      FROM isl),
       |sp AS (SELECT doc_id, island, min(pos) AS span_start, max(e) AS span_end,
       |              count(*) AS n_windows
       |       FROM g GROUP BY doc_id, island)
       |SELECT doc_id, span_start, span_end, n_windows
       |FROM sp ORDER BY doc_id, span_start""".stripMargin
  }

  // ---------------------------------------------- winnowed overlap pairs

  /** Minimum shared winnowed fingerprints for a pair to surface — one
    * shared fingerprint is a 7-token run (possible boilerplate); two
    * distinct selections is the noise cut. */
  val WinnowMinShared = 2L

  /** Document pairs sharing ≥ [[WinnowMinShared]] winnowed fingerprints
    * (TextAnalysis.winnowSelect) — overlap DETECTION with winnowing's
    * guarantee (any shared run ≥ K+W−1 tokens is caught) at 2/(W+1) of
    * the stride-1 span relation's volume. Scale shape: one repartition on
    * the fingerprint key consumed by both sides of the self-join:
    * above the broadcast threshold the plan is SortMergeJoin with the
    * second side a ReusedExchange (verified with autoBroadcast=-1 — the
    * selection computes ONCE); at gate scale AQE broadcasts the tiny
    * side instead, which is the right plan there. Candidates are
    * Σ_fp df(fp)², so a boilerplate-hot fingerprint escalates exactly
    * like a hot span window — the spanDedupCapped exact-integer df-cap
    * applies verbatim (SCALE.md). */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsOver(Tables.documents(spark, dir))

  private[graft] def winnowPairsOver(d: DataFrame): DataFrame =
    winnowPairsFromSel(TextAnalysis.winnowSelect(d)
      .select(col("doc_id"), col("fp")).distinct()
      .repartition(col("fp")))

  /** The pair-join core over an explicit distinct (doc_id, fp) selection
    * — the relation both the inline anchors and the artifact-served
    * dispatcher tiers feed. */
  private[graft] def winnowPairsFromSel(sel: DataFrame): DataFrame = {
    val a = sel.select(col("doc_id").as("doc_a"), col("fp"))
    val b = sel.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def winnowPairsOracle: String =
    s"""WITH ${TextAnalysis.winnowSelectSql},
       |sf AS (SELECT DISTINCT doc_id, fp FROM sel)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
       |FROM sf a JOIN sf b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= $WinnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** OPT-IN fingerprint df-cap for the winnow pair join —
    * [[spanDedupCapped]]'s exact-integer cut applied verbatim on the
    * fingerprint key (the escalation SCALE.md §winnowing names for
    * boilerplate corpora): the pair volume is Σ_fp df(fp)², so one
    * fingerprint selected by a large corpus fraction (a shared 7-token
    * header) explodes the self-join quadratically; fingerprints held by
    * more than total/`dfCapInverse` of the selections are dropped from
    * pairing entirely. Counts come from a map-side-combinable hash
    * aggregate (never a per-key window), and the hot key's selection
    * list never enters the join. Results CHANGE by design (boilerplate
    * overlap stops surfacing — exactly the overlap a dedup pass should
    * not act on): own oracle applying the same cut, and
    * OperatorParitySpec pins that the cut bites on a crafted hot
    * fingerprint while non-hot pairs survive unchanged. */
  def winnowPairsCapped(spark: SparkSession, dir: String,
                        dfCapInverse: Long): DataFrame =
    winnowPairsCappedOver(Tables.documents(spark, dir), dfCapInverse)

  private[graft] def winnowPairsCappedOver(d: DataFrame,
                                           dfCapInverse: Long): DataFrame =
    // ONE fp-keyed exchange feeds the count path AND the join sides
    // (ReusedExchange): without the up-front repartition, the fp-count
    // aggregate and the pair join each re-derive the full winnow
    // selection — measured 3.7 s vs 2.2 s uncapped at the 10× replica,
    // i.e. the cap cost twice the corpus pass it exists to avoid.
    winnowPairsCappedFromSel(TextAnalysis.winnowSelect(d)
      .select(col("doc_id"), col("fp")).distinct()
      .repartition(col("fp")), dfCapInverse)

  private[graft] def winnowPairsCappedFromSel(sel: DataFrame,
                                              dfCapInverse: Long): DataFrame = {
    val fc = sel.groupBy(col("fp")).agg(count(lit(1)).as("c"))
    val total = fc.agg(sum(col("c")).as("t"))
    val okFp = fc.crossJoin(broadcast(total))
      .filter(col("c") >= 2 && col("c") * dfCapInverse <= col("t"))
      .select(col("fp"))
    // okFp is fp-keyed off the SAME exchange (co-partitioned) and is NOT
    // broadcast: the allowed set is every 2 ≤ c ≤ cap fingerprint —
    // corpus-scale, unlike the gram-space-bounded trigram stop sets
    val s = sel.join(okFp, "fp")
    val a = s.select(col("doc_id").as("doc_a"), col("fp"))
    val b = s.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def winnowPairsCappedOracle(dfCapInverse: Long): String =
    s"""WITH ${TextAnalysis.winnowSelectSql},
       |sf AS (SELECT DISTINCT doc_id, fp FROM sel),
       |fc AS (SELECT fp, count(*)::BIGINT AS c FROM sf GROUP BY fp),
       |tt AS (SELECT sum(c)::BIGINT AS t FROM fc),
       |ok AS (SELECT fp FROM fc CROSS JOIN tt
       |       WHERE c >= 2 AND c * $dfCapInverse <= tt.t),
       |sk AS (SELECT sf.doc_id, sf.fp FROM sf JOIN ok USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
       |FROM sk a JOIN sk b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= $WinnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------- winnow admission control (fingerprint-df screen)

  /** Per-fingerprint document frequency of the winnowed selection —
    * (fp, c) over DISTINCT (doc_id, fp) rows, the exact per-key volume
    * driver of [[winnowPairs]]' self-join. Row-local per document
    * (winnowing selects within one doc's own windows), so df is additive
    * across batches: df(corpus ∪ batch) == df(corpus) + df(batch) per fp
    * — the gram-stats additivity, which is what licenses the append face
    * below (unlike the containment df artifact, whose canonicalization is
    * corpus-global and forbids one). */
  private[graft] def winnowFpDf(d: DataFrame): DataFrame =
    graft.operators.TextAnalysis.winnowSelect(d)
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("c"))

  /** The winnow fingerprint-stats artifact. NOT gram-space-bounded
    * (fingerprints are corpus-scale, ~2/(W+1) of token positions), but
    * two narrow long columns after a groupBy — orders of magnitude under
    * the selection relation, and the prediction read below is one
    * aggregate over it, never a join against the corpus. A new ingest
    * batch's (fp, c) rows land beside the existing files; reads fold with
    * groupBy+sum. Exact by the additivity above (IncrementalIndexSpec pins
    * append == rebuild). */
  val WinnowDfVersion = 1

  val WinnowDf: graft.Artifact = graft.Artifact("graft_winnowdf", WinnowDfVersion,
    winnowFpDf, graft.Artifact.Coalesced(4, 1))

  /** The winnowed SELECTION artifact — (doc_id, fp) distinct,
    * fp-clustered so the pair self-join reads co-located postings (the
    * posting-index layout convention). Row-local per document, so the
    * append face is exact by the same additivity as the df stats
    * (IncrementalIndexSpec pins append == rebuild); at 100 TB this is
    * the artifact that keeps a pairs pass from re-scanning raw text per
    * call — the selection derivation is the dominant cost of every
    * inline winnow form (measured 22.9 s of the 100×-replica read). */
  val WinnowSelVersion = 1

  val WinnowSel: graft.Artifact = graft.Artifact("graft_winnowsel", WinnowSelVersion,
    graft.operators.TextAnalysis.winnowSelect(_).select(col("doc_id"), col("fp")).distinct(),
    graft.Artifact.Clustered(Seq("fp"), Seq("fp"), build = 8, append = 2))

  /** The SERVED winnow pair join — [[winnowPairs]]' exact semantics (the
    * same oracle gates both) with the selection read from the
    * materialized artifact instead of re-derived from raw text: the
    * serving plan is one artifact scan + the fp-keyed self-join, no
    * documents read anywhere (PlanShapeSpec pins it). */
  def winnowPairsIndexed(spark: SparkSession, dir: String): DataFrame = {
    val sel = Tables.parquet(spark,
        graft.Materialize.ensure(spark, WinnowSel, dir, Tables.documents(spark, dir)))
      .repartition(col("fp"))
    val a = sel.select(col("doc_id").as("doc_a"), col("fp"))
    val b = sel.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Candidate-volume PREDICTION for the winnow pair join — the
    * fuzzy/containment admission-control face on the third pair-join
    * family: the fp-keyed self-join emits exactly Σ_fp df(fp)² rows
    * before the doc_a < doc_b filter (each of a fingerprint's df
    * selections meets all df on the other side), so folding the stats
    * artifact and summing c² predicts the join's raw volume EXACTLY
    * (OperatorParitySpec pins equality against the actual join at
    * sf0.001) at the cost of one narrow aggregate — on a boilerplate-hot
    * corpus the difference between linear and quadratic. */
  def winnowCandidateCost(spark: SparkSession, dir: String): DataFrame =
    winnowCandidateCostOver(
      Tables.parquet(spark,
          graft.Materialize.ensure(spark, WinnowDf, dir, Tables.documents(spark, dir)))
        .groupBy(col("fp")).agg(sum(col("c")).as("c")))

  /** The prediction core over an explicit (fp, c) relation — shared by
    * the artifact-fed gate row and the crafted-corpus measurement
    * (SCALE.md §The winnow df-cap's value case), so the measured spelling
    * is the one the dispatcher runs. */
  private[graft] def winnowCandidateCostOver(fc: DataFrame): DataFrame =
    fc.agg(coalesce(sum(col("c") * col("c")), lit(0L)).cast("long")
        .as("candidate_rows"),
      count(lit(1)).cast("long").as("n_fps"))

  def winnowCandidateCostOracle: String =
    s"""WITH ${graft.operators.TextAnalysis.winnowSelectSql},
       |sf AS (SELECT DISTINCT doc_id, fp FROM sel),
       |fc AS (SELECT fp, count(*)::BIGINT AS c FROM sf GROUP BY fp)
       |SELECT coalesce(sum(c * c), 0)::BIGINT AS candidate_rows,
       |       count(*)::BIGINT AS n_fps FROM fc""".stripMargin

  /** The TIER-2 volume, predicted the same way: Σ df² over the fps the
    * relative cut KEEPS (2 ≤ c, c·inv ≤ t) — exactly the capped join's
    * raw row count, folded from the same artifact. What exposes the
    * relative cut's blind spot BEFORE the join is paid: uniform hotness
    * (every doc cloned k×) multiplies every df by k and t by k, so the
    * allowed set is unchanged while its Σ df² grows k² — the 100×
    * identical-clone replica OOMed the capped branch at ~2×10⁹ predicted
    * rows, the winnow analogue of the stop-gram tier's quadratic. */
  def winnowCappedCandidateCost(spark: SparkSession, dir: String,
                                dfCapInverse: Long): DataFrame = {
    val fc = Tables.parquet(spark,
        graft.Materialize.ensure(spark, WinnowDf, dir, Tables.documents(spark, dir)))
      .groupBy(col("fp")).agg(sum(col("c")).as("c"))
    val total = fc.agg(sum(col("c")).as("t"))
    winnowCandidateCostOver(
      fc.crossJoin(broadcast(total))
        .filter(col("c") >= 2 && col("c") * dfCapInverse <= col("t"))
        .select(col("fp"), col("c")))
  }

  def winnowCappedCandidateCostOracle(dfCapInverse: Long): String =
    s"""WITH ${graft.operators.TextAnalysis.winnowSelectSql},
       |sf AS (SELECT DISTINCT doc_id, fp FROM sel),
       |fc AS (SELECT fp, count(*)::BIGINT AS c FROM sf GROUP BY fp),
       |tt AS (SELECT sum(c)::BIGINT AS t FROM fc),
       |ok AS (SELECT fp, c FROM fc CROSS JOIN tt
       |       WHERE c >= 2 AND c * $dfCapInverse <= tt.t)
       |SELECT coalesce(sum(c * c), 0)::BIGINT AS candidate_rows,
       |       count(*)::BIGINT AS n_fps FROM ok""".stripMargin

  /** Per-fingerprint selection budget for the ABSOLUTE tier — the
    * champion-list convention ([[graft.operators.FuzzySearch.ChampPostingCap]]). */
  val WinnowPerFpCap = 64

  /** TIER 3 — absolute per-fingerprint truncation on top of the relative
    * cut (the fuzzy champion design on the winnow join): each surviving
    * fingerprint keeps its [[WinnowPerFpCap]] smallest doc_ids (the
    * min-id-wins canonical-pick convention — any K representatives
    * suffice to surface an overlap CLUSTER, and smallest-id is the
    * cluster representative every dedup stage already elects), so the
    * pair volume is bounded at Σ min(df, K)² ≤ n_fps·K² regardless of
    * how uniformly hot the corpus is — the bound a RELATIVE threshold
    * provably cannot give (uniform cloning scales every df and the
    * total together, leaving the allowed set fixed while its volume
    * grows quadratically; the 100× clone replica is exactly that
    * corpus). Results change further, so: own mirroring oracle, and
    * OperatorParitySpec pins K=∞ ≡ the relative cap and a real bite on
    * a uniformly-cloned crafted corpus. */
  def winnowPairsChamp(spark: SparkSession, dir: String, dfCapInverse: Long,
                       perFpCap: Int = WinnowPerFpCap): DataFrame =
    winnowPairsChampOver(Tables.documents(spark, dir), dfCapInverse, perFpCap)

  private[graft] def winnowPairsChampOver(d: DataFrame, dfCapInverse: Long,
                                          perFpCap: Int): DataFrame =
    winnowPairsChampFromSel(graft.operators.TextAnalysis.winnowSelect(d)
      .select(col("doc_id"), col("fp")).distinct()
      .repartition(col("fp")), dfCapInverse, perFpCap)

  private[graft] def winnowPairsChampFromSel(sel: DataFrame,
                                             dfCapInverse: Long,
                                             perFpCap: Int): DataFrame = {
    val fc = sel.groupBy(col("fp")).agg(count(lit(1)).as("c"))
    val total = fc.agg(sum(col("c")).as("t"))
    val okFp = fc.crossJoin(broadcast(total))
      .filter(col("c") >= 2 && col("c") * dfCapInverse <= col("t"))
      .select(col("fp"))
    val s = sel.join(okFp, "fp")
      .withColumn("prn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("prn") <= perFpCap).drop("prn")
    val a = s.select(col("doc_id").as("doc_a"), col("fp"))
    val b = s.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def winnowPairsChampOracle(dfCapInverse: Long,
                             perFpCap: Int = WinnowPerFpCap): String =
    s"""WITH ${graft.operators.TextAnalysis.winnowSelectSql},
       |sf AS (SELECT DISTINCT doc_id, fp FROM sel),
       |fc AS (SELECT fp, count(*)::BIGINT AS c FROM sf GROUP BY fp),
       |tt AS (SELECT sum(c)::BIGINT AS t FROM fc),
       |ok AS (SELECT fp FROM fc CROSS JOIN tt
       |       WHERE c >= 2 AND c * $dfCapInverse <= tt.t),
       |sk AS (SELECT doc_id, fp FROM (
       |         SELECT sf.doc_id, sf.fp,
       |                row_number() OVER (PARTITION BY sf.fp
       |                                   ORDER BY sf.doc_id) AS prn
       |         FROM sf JOIN ok USING (fp)) WHERE prn <= $perFpCap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
       |FROM sk a JOIN sk b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= $WinnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Pair-recall of the champion tier vs tiers 1/2 — the winnow ladder's
    * quality-cost instrument (round 12; the fuzzy ladder's
    * batchFuzzyChampRecall precedent): `recall` is champ ∩ uncapped /
    * uncapped on the (doc_a, doc_b) pair identity — the ceiling any cut
    * plan can reach — and `recall_vs_capped` isolates what the absolute
    * per-fp truncation costs ON TOP of the relative cut it escalates
    * from (the number the [[WinnowPerFpCap]] knob moves). Computable
    * wherever the anchor joins are (gate corpus and the 10× replica;
    * at the 100× clone replica the anchors themselves OOM — that
    * asymmetry is exactly why the champion tier exists, so the absolute
    * quality at that scale rests on the smaller-scale anchors, stated in
    * SCALE.md §winnow). */
  def winnowChampRecall(spark: SparkSession, dir: String, dfCapInverse: Long,
                        perFpCap: Int = WinnowPerFpCap): DataFrame = {
    val d = Tables.documents(spark, dir)
    // NO lineage share/cut on the anchor legs (r16 A/B, the
    // batchFuzzyChampRecall finding): inline, the three winnow anchors
    // share their selection subtree at the physical level via AQE
    // ReuseExchange inside the one assembled plan; persist/cut split them
    // into separate query executions and DOUBLED the instrument
    // (7.8 s shared / 7.1 s cut vs 3.4 s inline at sf0.1 local[32]).
    val exact = winnowPairsOver(d).select(col("doc_a"), col("doc_b"))
    val capped = winnowPairsCappedOver(d, dfCapInverse)
      .select(col("doc_a"), col("doc_b"))
    val champ = winnowPairsChampOver(d, dfCapInverse, perFpCap)
      .select(col("doc_a"), col("doc_b"))
    def hitsOf(base: DataFrame, name: String): DataFrame =
      base.join(champ, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).cast("long").as(name))
    exact.agg(count(lit(1)).cast("long").as("n_pairs_exact"))
      .crossJoin(broadcast(hitsOf(exact, "hits_exact")))
      .crossJoin(broadcast(
        capped.agg(count(lit(1)).cast("long").as("n_pairs_capped"))))
      .crossJoin(broadcast(hitsOf(capped, "hits_capped")))
      .select(col("n_pairs_exact"), col("hits_exact"),
        (col("hits_exact").cast("double") /
          col("n_pairs_exact").cast("double")).as("recall"),
        col("n_pairs_capped"), col("hits_capped"),
        (col("hits_capped").cast("double") /
          col("n_pairs_capped").cast("double")).as("recall_vs_capped"))
  }

  def winnowChampRecallOracle(dfCapInverse: Long,
                              perFpCap: Int = WinnowPerFpCap): String =
    s"""WITH ex AS MATERIALIZED (SELECT doc_a, doc_b FROM ($winnowPairsOracle)),
       |cp AS MATERIALIZED (SELECT doc_a, doc_b
       |       FROM (${winnowPairsCappedOracle(dfCapInverse)})),
       |ch AS MATERIALIZED (SELECT doc_a, doc_b
       |       FROM (${winnowPairsChampOracle(dfCapInverse, perFpCap)}))
       |SELECT (SELECT count(*) FROM ex)::BIGINT AS n_pairs_exact,
       |       (SELECT count(*) FROM ex JOIN ch USING (doc_a, doc_b))::BIGINT AS hits_exact,
       |       (SELECT count(*) FROM ex JOIN ch USING (doc_a, doc_b))::DOUBLE
       |         / (SELECT count(*) FROM ex)::DOUBLE AS recall,
       |       (SELECT count(*) FROM cp)::BIGINT AS n_pairs_capped,
       |       (SELECT count(*) FROM cp JOIN ch USING (doc_a, doc_b))::BIGINT AS hits_capped,
       |       (SELECT count(*) FROM cp JOIN ch USING (doc_a, doc_b))::DOUBLE
       |         / (SELECT count(*) FROM cp)::DOUBLE AS recall_vs_capped""".stripMargin

  /** Candidate-row budget for [[winnowPairsAuto]] — the sibling families'
    * measured crossover (SCALE.md §admission-control: pair verification
    * ≈ 0.33 µs/row + fixed; the capped form ~1.4 s slower than uncapped
    * when nothing is hot, measured at the 10× replica). 8 M keeps the
    * EXACT uncapped semantics wherever it is not measurably the slower
    * plan — the boilerplate corpus of SCALE.md §The winnow df-cap's
    * value case predicts ~50 M pairs and correctly escalates. */
  val WinnowCandidateBudget: Long = 8L * 1000 * 1000

  /** Memo for the dispatch predictions — `.head()` is a
    * construction-time action (the batchFuzzySearchAuto precedent);
    * keyed by the input and stats-artifact fingerprints so an ingest
    * increment or stats append re-predicts. The tier-1 model is
    * parameter-free; the tier-2 model keys on dfCapInverse (its allowed
    * set depends on it). */
  private val winnowCostMemo =
    new scala.collection.concurrent.TrieMap[(String, String, String), Long]
  private val winnowCappedCostMemo =
    new scala.collection.concurrent.TrieMap[(String, String, String, Long), Long]

  /** THREE-tier dispatching winnow-pairs entry (round 11 — the 100×
    * clone replica showed the relative cut's blind spot the same way the
    * 100× rehearsal showed the stop-gram tier's): uncapped (exact
    * overlap semantics) while its predicted volume fits the budget; the
    * relative df-cap while ITS predicted volume fits; else the absolute
    * per-fp truncation — the only tier whose volume is bounded at any
    * corpus. Both predictions fold from the bounded stats artifact; the
    * oracle dispatches identically in SQL, so the gate checks the
    * dispatch itself. */
  def winnowPairsAuto(spark: SparkSession, dir: String, dfCapInverse: Long,
                      budget: Long = WinnowCandidateBudget,
                      perFpCap: Int = WinnowPerFpCap): DataFrame = {
    val d = Tables.documents(spark, dir)
    val dp = graft.Materialize.ensure(spark, WinnowDf, dir, d)
    val fps = (dir, graft.Materialize.fingerprint(spark, dir),
      graft.Materialize.fingerprint(spark, dp))
    val predicted = winnowCostMemo.getOrElseUpdate(fps,
      winnowCandidateCost(spark, dir).head().getLong(0))
    // every tier is SERVED from the materialized selection artifact —
    // the selection derivation (tokenize + windows + argmin over raw
    // text) dominated the inline read at the 100× replica, and it is
    // identical across tiers, so the dispatcher never re-pays it
    def sel = Tables.parquet(spark, graft.Materialize.ensure(spark, WinnowSel, dir, d))
      .repartition(col("fp"))
    if (predicted <= budget) winnowPairsFromSel(sel)
    else {
      val cappedPredicted = winnowCappedCostMemo.getOrElseUpdate(
        (fps._1, fps._2, fps._3, dfCapInverse),
        winnowCappedCandidateCost(spark, dir, dfCapInverse).head().getLong(0))
      if (cappedPredicted <= budget) winnowPairsCappedFromSel(sel, dfCapInverse)
      else winnowPairsChampFromSel(sel, dfCapInverse, perFpCap)
    }
  }

  def winnowPairsAutoOracle(dfCapInverse: Long,
                            budget: Long = WinnowCandidateBudget,
                            perFpCap: Int = WinnowPerFpCap): String =
    s"""WITH cost AS ($winnowCandidateCostOracle),
       |cost2 AS (${winnowCappedCandidateCostOracle(dfCapInverse)})
       |SELECT doc_a, doc_b, n_shared
       |FROM (
       |  SELECT * FROM ($winnowPairsOracle) u
       |  WHERE (SELECT candidate_rows FROM cost) <= $budget
       |  UNION ALL
       |  SELECT * FROM (${winnowPairsCappedOracle(dfCapInverse)}) s
       |  WHERE (SELECT candidate_rows FROM cost) > $budget
       |    AND (SELECT candidate_rows FROM cost2) <= $budget
       |  UNION ALL
       |  SELECT * FROM (${winnowPairsChampOracle(dfCapInverse, perFpCap)}) ch
       |  WHERE (SELECT candidate_rows FROM cost) > $budget
       |    AND (SELECT candidate_rows FROM cost2) > $budget
       |) d
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------ incremental batch-vs-corpus near-dup

  /** Deterministic batch split: docs with doc_id % IncMod == IncRem are
    * the "new ingest batch"; the rest are the standing corpus. */
  val IncMod = 10L
  val IncRem = 7L
  val IncEstThreshold: Double = PipelineEstThreshold
  val IncBloomItems = 100000L
  val IncBloomBits = 800000L

  /** Signature + LSH band rows (doc_id, sig, band_idx, band_hash) for any
    * (doc_id, text) relation — the derivation minhashPairs explodes,
    * factored so the incremental screen can band the BATCH side and the
    * corpus side independently (the batch is one ingest increment; the
    * corpus bands are the standing artifact). */
  private[graft] def bandRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.MinHashSignature.minhashSignature(
          lower(col("text")), ShingleWords, MinHashK).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until Bands).map { b =>
          polyHashLongs(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand))
        }: _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")

  /** Artifact version of the graft_bands index. [[BandIndex]] carries it,
    * and the cadence compaction and GC (CorpusPrep.compactCadenceIfDue)
    * and ArtifactParams read it from there, so a bump here moves them all. */
  val BandsVersion = 3 // v3: 32-hash signatures + splitmix permutation seeds

  /** The corpus band artifact (at scale built at ingest): the signature +
    * LSH band derivation of the standing corpus, materialized so the
    * incremental screen probes files instead of re-deriving minhash
    * signatures per ingest batch. Band-key-clustered into a fixed file
    * count, sorted within files so the bloom-surviving read stays tight
    * (the graft_postings pattern keyed by (band_hash, band_idx)).
    * Appendable because the signature derivation is row-local per doc:
    * bands(corpus ∪ batch) == bands(corpus) ∪ bands(batch)
    * (IncrementalIndexSpec pins append-then-screen == rebuild-then-screen). */
  val BandIndex: graft.Artifact = graft.Artifact("graft_bands", BandsVersion, bandRows,
    graft.Artifact.Clustered(Seq("band_hash", "band_idx"), Seq("band_hash", "band_idx")))

  /** Fresh read of the materialized corpus bands (ensured on first call)
    * — the standing-corpus side of the incremental screen. Each call
    * lists the artifact anew, so appended band files are visible to the
    * next call. */
  def corpusBandsOf(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
      .filter(col("doc_id") % IncMod =!= IncRem)
      .select(col("doc_id"), col("text"))
    Tables.parquet(spark, graft.Materialize.ensure(spark, BandIndex, dir, corpus))
  }

  /** Incremental near-dup screening of a new ingest batch against the
    * standing corpus — the continuous-pipeline face of dedup_minhash: a
    * new batch must not re-run the corpus self-join, only probe it. Each
    * batch doc is flagged if it shares an LSH band bucket with a corpus
    * doc AND the signature-estimated Jaccard clears the pipeline
    * threshold; `dup_of` is the smallest such corpus partner.
    *
    * Scale shape: the batch side is small by construction (one ingest
    * increment), so its (band_idx, band_hash) keys fold into ONE bloom
    * blob (scalar subquery) that probes the CORPUS band derivation below
    * the join exchange — the q14 machinery: only corpus rows whose band
    * key might match a batch key reach the shuffle, so the corpus-side
    * cost is a scan + bloom pass, not a full band join. False positives
    * only cost pruning efficiency (the exact band equi-join removes
    * them); the corpus bands ARE a materialized artifact ([[BandIndex]],
    * appended per ingest batch) and the probe reads it —
    * per-ingest cost is a bloom pass over band files plus the pruned
    * join, never a corpus signature re-derivation.
    *
    * This is the screen over explicit batch/corpus relations, the core the
    * gate query runs. A doc's result depends only on its own row against
    * the corpus bands, so the screen is exact per micro-batch of a stream
    * of arrivals; pass a fresh read of the band artifact per call so its
    * appended files are picked up. */
  def incrementalNearDupsOver(batchDocs: DataFrame, corpusBands: DataFrame): DataFrame = {
    import graft.functions.SketchFunctions._
    // One long key per band row: hash is < HashMod (< 2^30), so * Bands
    // + idx is collision-free.
    def bandKey = col("band_hash") * Bands + col("band_idx")
    val batch = bandRows(batchDocs)
    val bloom = batch.agg(
      bloomFilterAgg(bandKey, IncBloomItems, IncBloomBits).as("bf"))
    val corpusPruned = corpusBands.filter(mightContain(bloom.scalar(), bandKey))
    val est = sigEst(col("a.sig"), col("b.sig"))
    val partners = batch.as("a").join(corpusPruned.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("partner"),
        est.as("est_jaccard"))
      .filter(col("est_jaccard") >= IncEstThreshold)
      .select(col("doc_id"), col("partner")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_partners"), min(col("partner")).as("dup_of"))
    batchDocs.select(col("doc_id")).join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("dup_of").isNotNull.as("is_dup"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"), col("dup_of"))
      .orderBy(col("doc_id"))
  }

  /** Gate form: the ingest batch bands inline (it is one increment, small
    * by construction); the CORPUS side reads the materialized band
    * artifact — a parquet scan under the bloom probe, never a per-batch
    * signature re-derivation (SCALE.md row 69). */
  def incrementalNearDups(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    incrementalNearDupsOver(
      d.filter(col("doc_id") % IncMod === IncRem).select(col("doc_id"), col("text")),
      corpusBandsOf(spark, dir))
  }

  def incrementalNearDupsOracle: String =
    s"""WITH $minhashBandCtes,
       |ba AS (SELECT * FROM bands WHERE doc_id % $IncMod = $IncRem),
       |co AS (SELECT * FROM bands WHERE doc_id % $IncMod <> $IncRem),
       |p AS (SELECT DISTINCT a.doc_id, b.doc_id AS partner
       |      FROM ba a JOIN co b
       |        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |      WHERE len(list_filter(range(1, ${MinHashK + 1}),
       |              i -> a.sig[i] = b.sig[i]))::DOUBLE / $MinHashK.0 >= $IncEstThreshold),
       |g AS (SELECT doc_id, count(*)::BIGINT AS n_partners, min(partner) AS dup_of
       |      FROM p GROUP BY doc_id)
       |SELECT d.doc_id, g.dup_of IS NOT NULL AS is_dup,
       |       coalesce(g.n_partners, 0) AS n_partners, g.dup_of
       |FROM documents d LEFT JOIN g USING (doc_id)
       |WHERE d.doc_id % $IncMod = $IncRem
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------- semantic (cluster-local) dedup

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embed, k-means
    * cluster, and search for near-dup pairs ONLY within each cluster —
    * the all-pairs cosine join is bounded by the largest cell, never the
    * corpus. Candidates here come from the Lloyd-TRAINED codebook's cell
    * assignment (KMeans.trainedCentroids — a map-only argmax over the
    * one-row broadcast codebook), then one shuffle on the cell key that
    * BOTH self-join sides reuse (same ReusedExchange shape as
    * dedup_embedding's LSH buckets), exact cosine verifies. Complementary
    * detectors: LSH buckets catch near-identical vectors across the
    * space; cell-local search catches semantic duplicates the 8-plane
    * bucket split may separate. At 100 TB the assignment is the
    * ingest-time IVF product (ann_ivf_bucketed), so candidate gen reads
    * cell-partitioned files and the join is cell-co-located. */
  def semanticNearDups(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = KMeans.trainedCentroids(spark, dir)
    val assigned = KMeans.assign(e, cent)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .repartition(col("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim", round(Similarity.cosine(col("emb_a"), col("emb_b")), 4))
      .filter(col("cosine_sim") >= threshold && !isnan(col("cosine_sim")))
      .select(col("cell"), col("id_a"), col("id_b"), col("cosine_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def semanticNearDupsOracle(threshold: Double,
                             iters: Int = KMeans.DefaultIters, mod: Long = 25L,
                             numCentroids: Int = Similarity.IvfNumCentroids): String = {
    val cosA = Similarity.cosineSql("e.embedding", "c.cemb")
    val cosP = Similarity.cosineSql("a.embedding", "b.embedding")
    s"""WITH ${KMeans.trainCtes(iters, mod, numCentroids)},
       |af AS (SELECT e.vec_id, c.cid AS cell
       |       FROM embeddings e CROSS JOIN cent$iters c
       |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |                                  ORDER BY $cosA DESC, c.cid) = 1),
       |p AS (SELECT x.cell, a.vec_id AS id_a, b.vec_id AS id_b,
       |             round($cosP, 4) AS cosine_sim
       |      FROM af x JOIN af y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |      JOIN embeddings a ON a.vec_id = x.vec_id
       |      JOIN embeddings b ON b.vec_id = y.vec_id)
       |SELECT cell, id_a, id_b, cosine_sim FROM p
       |WHERE cosine_sim >= $threshold AND NOT isnan(cosine_sim)
       |ORDER BY id_a, id_b""".stripMargin
  }
}
