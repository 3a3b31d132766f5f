package graft

import graft.functions.DamerauLevenshtein._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The contract of the correctness gate and the benchmark — see
  * SURVEY.md §7.
  *
  * One table, `table`, holds every contract query once: its Spark face and
  * its DuckDB oracle, the SQL computing the same result on the same
  * parquet tables (column names, types, and row order aligned; values
  * bit-identical or rounded identically on both sides). The one query
  * without SQL, `ev_approx_distinct` (HLL sketch, no DuckDB equivalent),
  * carries the explicit [[RowsOnly]] marker. `queries`, `oracleSql` and
  * `instrumentQueries` are views of the table, so a query can no longer
  * lose its oracle, nor an oracle its query. Shared query parameters are
  * hoisted into `P` so the Spark face and its oracle cannot drift.
  */
object SparkEntry {

  /** Shared parameters for every parameterized query — referenced by BOTH
    * the Spark registration and the oracle registration. */
  private[graft] object P {
    val RadiusProbe = 7L; val RadiusMiles = 2000.0
    val LatLng = (35.0, -90.0, 3000.0)
    val KnnProbe = 7L; val KnnK = 15
    val PairMaxId = 40L
    val SentinelProbes = Seq(1L, 5L, 999999999L, 7L, 888888888L)
    val SentinelTarget = 10L // aggregate shape (id % 10 == 0)
    val RadiusFullProbe = 10L // aggregate probe: exercises orig-side + mean normalization
    val FuzzyQuery = "smal widget"; val FuzzyK = 20
    val StopGramInv = 10L // stop-grams: df > N/10 (SCALE.md fuzzy_batch row)
    val BestQuery = "small widget"
    val PostalQuery = "10750"; val PostalK = 15 // digits-only → postal scoring branch
    val RadiusFilters = Seq[(String, Any)]("geo_type" -> "City")
    val FuzzyFilters = Seq[(String, Any)]("country" -> "US")
    val JaccardThreshold = 0.55
    // span df-cap: windows occupying > 1/10000 of all window occurrences
    // are boilerplate (bites at sf0.01: cuts the c=3 keys, total 23.7k)
    val SpanCapInv = 10000L
    val EmbDupThreshold = 0.40
    val CosineProbe = 0L; val CosineK = 10
    // nprobe=4 of 16 cells: the recall gate showed nprobe=2 recovers only
    // 2/10 true neighbors on these UNCLUSTERED synthetic embeddings (no
    // codebook structure to exploit) — 4 probed cells is the measured
    // recall/read trade; ann_ivf_recall keeps the number visible.
    val IvfProbe = 7L; val IvfK = 10; val IvfNprobe = 4
    /** Hybrid dense pool reads wider (overlap >= 0.8 target; the ann_ivf_*
      * rows keep nprobe=4 — they gate the pruned-read plan, not recall). */
    val HybridNprobe = 12
    /** Ladder hybrid: 3 of 4 coarse groups keeps up to 12 fine cells
      * visible to the nprobe=12 fine pass — the two-level selection's
      * analogue of HybridNprobe's 12/16 coverage ceiling. */
    val HybridNprobe1 = 3
    /** Containment threshold below Jaccard's 0.55 peer: the asymmetric
      * measure saturates fast for quote-inclusion (C→1 while J→|A|/|B|). */
    val ContainThreshold = 0.8
    /** Containment df-cap: grams held by > n/8 of the 64 canonical docs
      * (df > 8; the hottest sits at 16) are dropped from candidate
      * generation. At this synthetic corpus the surviving PAIRS are
      * unchanged (every true pair is also reachable through rare grams)
      * — the gate row checks the capped candidate path's arithmetic via
      * its own mirroring oracle, and the cut's bite is pinned on a
      * crafted hot corpus in OperatorParitySpec. */
    val ContainCapInv = 8L
    /** Winnow fingerprint df-cap: fps covering > 1/3000 of all selections
      * (~10k at sf0.01 → df > 3) stop pairing — the df-4 boilerplate keys
      * are exactly the cut's target at this SF. */
    val WinnowCapInv = 3000L
    val Bm25Query = Seq("spark", "query", "table"); val Bm25K = 15
    // batch search request table: (qid, term) — multi-term requests of
    // differing selectivity, one qid with a term absent from the corpus
    val Bm25Batch: Seq[(Long, String)] = Seq(
      0L -> "spark", 0L -> "query", 0L -> "table",
      1L -> "join", 1L -> "merge",
      2L -> "window", 2L -> "stream", 2L -> "sort",
      3L -> "customer", 3L -> "zzznothere")
  }

  /** The session the contract mains (Verify, Bench, PlanAudit,
    * DiversityReplica) run in: `SPARK_GRAFT_CPUS` local cores (default
    * 32) and as many shuffle partitions, UTC, no UI, WARN logging.
    * events.ts is INT64 TIMESTAMP(NANOS) parquet — read raw, rebuilt in
    * graft.operators.EventOps.events. */
  private[graft] def mainSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's auto-complete fuzzy search pipeline
    * (geo_manager.py:525-619) over the part corpus. */
  def entry(spark: SparkSession): DataFrame =
    FuzzySearch.fuzzySearch(spark, "/root/testdata/sf0.001", "smal widget", 20)

  /** A query's DuckDB oracle: the SQL computing the same result on the
    * same parquet tables, or [[RowsOnly]] where DuckDB has no equivalent
    * and the gate checks the row count only. */
  sealed trait Oracle
  final case class Sql(text: String) extends Oracle
  case object RowsOnly extends Oracle

  /** One contract query: its Spark face (a closure, run only when the
    * query is) and its oracle. */
  final case class Query(face: (SparkSession, String) => DataFrame, oracle: Oracle)

  /** The one query table: one entry per implemented operator from
    * SURVEY.md §2 (+ the LLM-pipeline extensions), keyed by query name.
    * Built once, on first use: that builds every oracle string (about
    * 1 MB of SQL) and runs no face. Twins that share an oracle each spell
    * the oracle call. */
  lazy val table: Map[String, Query] = Map(
    // --- relational core (SURVEY §2.1-2.7) ---
    "q1_pricing_summary" -> Query((s, d) => Relational.q1PricingSummary(s, d),
      Sql(Relational.q1Oracle)),
    "q2_top_orders" -> Query((s, d) => Relational.q2TopOrders(s, d), Sql(Relational.q2Oracle)),
    "q3_revenue_topk" -> Query((s, d) => Relational.q3RevenueByCustomer(s, d),
      Sql(Relational.q3Oracle)),
    "q4_region_stats" -> Query((s, d) => Relational.q4RegionStats(s, d), Sql(Relational.q4Oracle)),
    "q5_window_top3" -> Query((s, d) => Relational.q5TopPerSegment(s, d), Sql(Relational.q5Oracle)),
    "q6_setop_except" -> Query((s, d) => Relational.q6SetOp(s, d), Sql(Relational.q6Oracle)),
    "q7_anti_join" -> Query((s, d) => Relational.q7NoOrders(s, d), Sql(Relational.q7Oracle)),
    "q8_distinct_agg" -> Query((s, d) => Relational.q8DistinctAgg(s, d), Sql(Relational.q8Oracle)),
    "q9_rollup" -> Query((s, d) => Relational.q9Rollup(s, d), Sql(Relational.q9Oracle)),
    "q10_cube" -> Query((s, d) => Relational.q10Cube(s, d), Sql(Relational.q10Oracle)),
    "q11_percentiles" -> Query((s, d) => Relational.q11Percentiles(s, d),
      Sql(Relational.q11Oracle)),
    // explicit two-phase salted aggregation (skew pattern, SCALE.md)
    "q12_salted_agg" -> Query((s, d) => Relational.q12SaltedAgg(s, d), Sql(Relational.q12Oracle)),
    // co-located bucketed join: both sides bucketed on the key at write
    // time → SortMergeJoin with NO Exchange on either side
    "q13_bucketed_join" -> Query((s, d) => Relational.q13BucketedJoin(s, d),
      Sql(Relational.q13Oracle)),
    // bloom-pruned semi join: scalar-subquery bloom probes inside the fact
    // scan stage; exact semi join removes false positives (results ==
    // plain semi join, which is the oracle)
    "q14_bloom_semi" -> Query((s, d) => Relational.q14BloomSemi(s, d), Sql(Relational.q14Oracle)),
    // salt-replicated skew join (dim replicated x salt, fact salted
    // deterministically; results salt-invariant vs the plain-join oracle)
    "q15_salted_join" -> Query((s, d) => Relational.q15SaltedJoin(s, d), Sql(Relational.q15Oracle)),
    // set intersection (left-semi over distincts; q6 covers EXCEPT)
    "q16_setop_intersect" -> Query((s, d) => Relational.q16SetopIntersect(s, d),
      Sql(Relational.q16Oracle)),
    // ntile quartile banding within each priority (parallel per group)
    "q17_ntile" -> Query((s, d) => Relational.q17Ntile(s, d), Sql(Relational.q17Oracle)),
    // CDC latest-wins snapshot merge (base + upserts + delete markers,
    // one shuffle on the merge key)
    "merge_upsert" -> Query((s, d) => Cdc.mergeUpsert(s, d), Sql(Cdc.mergeUpsertOracle)),
    // --- geo pipelines (SURVEY §2.8-2.9) ---
    "geo_radius_search" -> Query((s, d) => RadiusSearch.radiusSearch(s, d, P.RadiusProbe, P.RadiusMiles, countryExact = true),
      Sql(RadiusSearch.radiusSearchOracle(P.RadiusProbe, P.RadiusMiles, countryExact = true))),
    // BATCH radius search: a probe TABLE in one plan via banded spatial
    // equi-join (the reference answers one request at a time)
    "geo_radius_batch" -> Query((s, d) => RadiusSearch.radiusSearchBatch(s, d, P.RadiusMiles),
      Sql(RadiusSearch.radiusSearchBatchOracle(P.RadiusMiles))),
    // COMPLETE batch radius: both reference branches (point ellipse +
    // aggregate bbox) as banded equi-joins — no per-probe carve-out
    "geo_radius_batch_all" -> Query((s, d) => RadiusSearch.radiusSearchBatchAll(s, d, P.RadiusMiles),
      Sql(RadiusSearch.radiusSearchBatchAllOracle(P.RadiusMiles))),
    // BATCH fuzzy search: the flagship pipeline over a query TABLE in one
    // plan (per-qid window caps/top-k instead of per-request limits)
    "fuzzy_batch" -> Query((s, d) => FuzzySearch.batchFuzzySearch(s, d, P.FuzzyK),
      Sql(FuzzySearch.batchFuzzySearchOracle(P.FuzzyK))),
    // same semantics against the materialized posting index (shared
    // oracle gates both; candidate gen never scans the corpus)
    "fuzzy_batch_indexed" -> Query((s, d) => FuzzySearch.batchFuzzySearchIndexed(s, d, P.FuzzyK),
      Sql(FuzzySearch.batchFuzzySearchOracle(P.FuzzyK))),
    // OPT-IN stop-gram cut: hottest posting lists (df > N/10) excluded
    // from candidate gen — different results by design, own oracle
    "fuzzy_batch_stopgram" -> Query((s, d) => FuzzySearch.batchFuzzySearchStopGram(s, d, P.FuzzyK, P.StopGramInv),
      Sql(FuzzySearch.batchFuzzySearchOracle(P.FuzzyK,
        dfCapInverse = Some(P.StopGramInv)))),
    // the same cut SERVED: posting index + gram-space-bounded df stats
    // artifacts replace every corpus-sized derivation (the sf1 rehearsal's
    // answer to the indexed batch candidate cliff) — shares stopgram's oracle
    "fuzzy_batch_stopgram_indexed" -> Query((s, d) => FuzzySearch.batchFuzzySearchStopGramIndexed(s, d, P.FuzzyK, P.StopGramInv),
      Sql(FuzzySearch.batchFuzzySearchOracle(P.FuzzyK,
        dfCapInverse = Some(P.StopGramInv)))),
    // admission control: predict the batch join's EXACT candidate volume
    // from the broadcast gram-stats artifact before paying the join
    "fuzzy_batch_cost" -> Query((s, d) => FuzzySearch.batchCandidateCost(s, d),
      Sql(FuzzySearch.batchCandidateCostOracle)),
    "fuzzy_batch_cost_stopgram" -> Query((s, d) =>
      FuzzySearch.batchStopgramCandidateCost(s, d, P.StopGramInv),
      Sql(FuzzySearch.batchStopgramCandidateCostOracle(P.StopGramInv))),
    "fuzzy_batch_champ" -> Query((s, d) =>
      FuzzySearch.batchFuzzySearchChampIndexed(s, d, P.FuzzyK, P.StopGramInv),
      Sql(FuzzySearch.batchFuzzySearchChampOracle(P.FuzzyK, P.StopGramInv))),
    // the admission decision WIRED: predict, then serve uncut (faithful
    // cap-after-count) below the budget, the stop-gram cut above it —
    // the oracle twin dispatches identically in SQL
    "fuzzy_batch_auto" -> Query((s, d) => FuzzySearch.batchFuzzySearchAuto(s, d, P.FuzzyK, P.StopGramInv),
      Sql(FuzzySearch.batchFuzzySearchAutoOracle(P.FuzzyK, P.StopGramInv))),
    // what tier-3 truncation costs in result quality vs tier-1 exact
    // semantics — the ann_*_recall convention on the fuzzy ladder
    "fuzzy_batch_champ_recall" -> Query((s, d) =>
      FuzzySearch.batchFuzzyChampRecall(s, d, P.FuzzyK, P.StopGramInv),
      Sql(FuzzySearch.batchFuzzyChampRecallOracle(P.FuzzyK, P.StopGramInv))),
    // digits-only query TABLE over the zip corpus: the postal scoring
    // branch exercised in the batch serving shape (runtime per-row branch)
    "fuzzy_batch_postal" -> Query((s, d) => FuzzySearch.batchFuzzySearchZip(s, d, P.PostalK),
      Sql(FuzzySearch.batchFuzzySearchZipOracle(P.PostalK))),
    // batch bounded-KNN: k nearest within the radius per probe (banded
    // join + per-probe window rank)
    "geo_knn_batch" -> Query((s, d) => RadiusSearch.knnBatch(s, d, P.RadiusMiles, 5),
      Sql(RadiusSearch.knnBatchOracle(P.RadiusMiles, 5))),
    // full_results=True enrichment (geo_manager.py:300-323): per-match
    // {distance, normalized_distance, aggregate} against the probe shape
    "geo_radius_full" -> Query((s, d) => RadiusSearch.radiusSearchFull(s, d, P.RadiusFullProbe, P.RadiusMiles, countryExact = false),
      Sql(RadiusSearch.radiusSearchFullOracle(P.RadiusFullProbe, P.RadiusMiles, countryExact = false))),
    // radius_search(filters=...) — conjunctive equality dict (utils.py:15-21)
    "geo_radius_filtered" -> Query((s, d) => RadiusSearch.radiusSearch(s, d, P.RadiusProbe, P.RadiusMiles, countryExact = false, filters = P.RadiusFilters),
      Sql(RadiusSearch.radiusSearchOracle(P.RadiusProbe, P.RadiusMiles, countryExact = false, filters = P.RadiusFilters))),
    "geo_radius_latlng" -> Query((s, d) => RadiusSearch.radiusLatLngSearch(s, d, P.LatLng._1, P.LatLng._2, P.LatLng._3),
      Sql(RadiusSearch.radiusLatLngSearchOracle(P.LatLng._1, P.LatLng._2, P.LatLng._3))),
    // the serving twin: reads the lat-band materialized shape cache with
    // a literal band-range partition filter (plan-time file pruning)
    "geo_radius_latlng_indexed" -> Query((s, d) => RadiusSearch.radiusLatLngSearchIndexed(s, d, P.LatLng._1, P.LatLng._2, P.LatLng._3),
      Sql(RadiusSearch.radiusLatLngSearchOracle(P.LatLng._1, P.LatLng._2, P.LatLng._3))),
    // lat/lng full_results branch: normalized == raw, aggregate flag
    // hard-coded true (faithful oddity, geo_manager.py:305-321)
    "geo_radius_latlng_full" -> Query((s, d) => RadiusSearch.radiusLatLngSearchFull(s, d, P.LatLng._1, P.LatLng._2, P.LatLng._3),
      Sql(RadiusSearch.radiusLatLngSearchFullOracle(P.LatLng._1, P.LatLng._2, P.LatLng._3))),
    "geo_knn" -> Query((s, d) => RadiusSearch.knn(s, d, P.KnnProbe, P.KnnK),
      Sql(RadiusSearch.knnOracle(P.KnnProbe, P.KnnK))),
    // Z-order (Morton) layout key — 2-D file pruning for radius queries
    "geo_zorder_key" -> Query((s, d) => RadiusSearch.zorderKeys(s, d),
      Sql(RadiusSearch.zorderKeysOracle)),
    "geo_pair_distance" -> Query((s, d) => RadiusSearch.pairDistances(s, d, P.PairMaxId),
      Sql(RadiusSearch.pairDistancesOracle(P.PairMaxId))),
    // target 10 is an aggregate shape (id % 10 == 0) → exercises the
    // either-side aggregate_shape flag alongside the missing-probe sentinel
    "geo_pair_sentinel" -> Query((s, d) => RadiusSearch.pairDistanceSentinel(s, d, P.SentinelProbes, P.SentinelTarget),
      Sql(RadiusSearch.pairDistanceSentinelOracle(P.SentinelProbes, P.SentinelTarget))),
    "fuzzy_search" -> Query((s, d) => FuzzySearch.fuzzySearch(s, d, P.FuzzyQuery, P.FuzzyK),
      Sql(FuzzySearch.fuzzySearchOracle(P.FuzzyQuery, P.FuzzyK))),
    "fuzzy_best" -> Query((s, d) => FuzzySearch.bestFuzzySearch(s, d, P.BestQuery),
      Sql(FuzzySearch.bestFuzzySearchOracle(P.BestQuery))),
    // digits-only query over the zip-shaped corpus → postal scoring branch
    // (geo_manager.py:493-495; the reference's own index is zip-shaped)
    "fuzzy_postal" -> Query((s, d) => FuzzySearch.fuzzySearch(s, d, P.PostalQuery, P.PostalK, corpusOf = FuzzySearch.zipCorpus),
      Sql(FuzzySearch.fuzzySearchOracle(P.PostalQuery, P.PostalK, corpusSql = FuzzySearch.zipCorpusCte))),
    // same query through the MATERIALIZED posting index (pushed-down ngram
    // isin on the pairs relation); same oracle as fuzzy_search gates it
    "fuzzy_indexed" -> Query((s, d) => FuzzySearch.fuzzySearchIndexed(s, d, P.FuzzyQuery, P.FuzzyK),
      Sql(FuzzySearch.fuzzySearchOracle(P.FuzzyQuery, P.FuzzyK))),
    // filters dict applied AFTER the 500-cap (geo_manager.py:578-580)
    "fuzzy_filtered" -> Query((s, d) => FuzzySearch.fuzzySearch(s, d, P.PostalQuery, P.PostalK,
      corpusOf = FuzzySearch.zipCorpus, filters = P.FuzzyFilters),
      Sql(FuzzySearch.fuzzySearchOracle(P.PostalQuery, P.PostalK,
        corpusSql = FuzzySearch.zipCorpusCte, filters = P.FuzzyFilters))),
    // the reference's declared-but-disabled partitioned mode (geo_manager
    // .py:544-580, 623-641) as one windowed plan: per-country cap/dedup/
    // top-k; its latent partition-key bug (:558) fixed — see Scaladoc
    "fuzzy_partitioned" -> Query((s, d) => FuzzySearch.fuzzySearchPartitioned(s, d, P.PostalQuery, P.PostalK),
      Sql(FuzzySearch.fuzzySearchPartitionedOracle(P.PostalQuery, P.PostalK))),
    // the partitioned mode SERVED from the (ngram)-clustered partitioned
    // posting artifact (In(ngram) pushdown; same oracle as the inline form)
    "fuzzy_partitioned_indexed" -> Query((s, d) => FuzzySearch.fuzzySearchPartitionedIndexed(s, d, P.PostalQuery, P.PostalK),
      Sql(FuzzySearch.fuzzySearchPartitionedOracle(P.PostalQuery, P.PostalK))),
    "dl_topk" -> Query((s, d) => dlTopK(s, d), Sql(dlTopKOracle)),
    // --- shape record projections (SURVEY §2.2) ---
    "shape_display" -> Query((s, d) => ShapeOps.displays(s, d), Sql(ShapeOps.displaysOracle)),
    "shape_quote_location" -> Query((s, d) => ShapeOps.quoteLocations(s, d),
      Sql(ShapeOps.quoteLocationsOracle)),
    "shape_localtime" -> Query((s, d) => ShapeOps.localTimes(s, d), Sql(ShapeOps.localTimesOracle)),
    "shape_batch_lookup" -> Query((s, d) => ShapeOps.batchLookup(s, d),
      Sql(ShapeOps.batchLookupOracle)),
    "shape_filters" -> Query((s, d) => ShapeOps.filteredShapes(s, d),
      Sql(ShapeOps.filteredShapesOracle)),
    // dot-path filters over INGESTED nested structs (utils.py:15-21),
    // round-tripped through parquet so pushdown hits real nested storage
    "shape_filters_nested" -> Query((s, d) => ShapeOps.nestedFilteredShapes(s, d),
      Sql(ShapeOps.nestedFilteredShapesOracle)),
    "shape_related" -> Query((s, d) => ShapeOps.relatedShapes(s, d),
      Sql(ShapeOps.relatedShapesOracle)),
    // --- dedup family ---
    "dedup_exact" -> Query((s, d) => Dedup.exactDedup(s, d), Sql(Dedup.exactDedupOracle)),
    "dedup_jaccard" -> Query((s, d) => Dedup.jaccardPairs(s, d, P.JaccardThreshold),
      Sql(Dedup.jaccardPairsOracle(P.JaccardThreshold))),
    // asymmetric quote-inclusion dedup: C(A,B)=|A∩B|/|A|, contained-side
    // prefix filter + full containing-side postings, exact-verified
    "dedup_containment" -> Query((s, d) => Dedup.containmentPairs(s, d, P.ContainThreshold),
      Sql(Dedup.containmentPairsOracle(P.ContainThreshold))),
    "dedup_minhash" -> Query((s, d) => Dedup.minhashPairs(s, d), Sql(Dedup.minhashPairsOracle)),
    "dedup_embedding" -> Query((s, d) => Dedup.embeddingNearDups(s, d, P.EmbDupThreshold),
      Sql(Dedup.embeddingNearDupsOracle(P.EmbDupThreshold))),
    "dedup_pipeline" -> Query((s, d) => Dedup.dedupPipeline(s, d), Sql(Dedup.dedupPipelineOracle)),
    // opt-in transitive closure: K pointer-jumping passes (each one linear
    // self-join) so canonical chains of length up to 2^K collapse
    "dedup_transitive" -> Query((s, d) => Dedup.dedupPipelineTransitive(s, d),
      Sql(Dedup.dedupPipelineTransitiveOracle())),
    "text_simhash" -> Query((s, d) => Dedup.simhash(s, d), Sql(Dedup.simhashOracle)),
    // banded-LSH simhash near-dup pairs (equi-join on 12-bit bands +
    // exact popcount verify — never an all-pairs hamming scan)
    "dedup_simhash_pairs" -> Query((s, d) => Dedup.simhashPairs(s, d),
      Sql(Dedup.simhashPairsOracle)),
    // per-cluster representative selection: highest-quality member wins
    // (argmax via max(struct) — one shuffle on the cluster key)
    "dedup_canonical_pick" -> Query((s, d) => Dedup.canonicalPick(s, d),
      Sql(Dedup.canonicalPickOracle)),
    // measured precision/recall of the LSH-minhash detector vs exact
    // shingle-set jaccard ground truth
    "dedup_minhash_recall" -> Query((s, d) => Dedup.minhashRecall(s, d),
      Sql(Dedup.minhashRecallOracle)),
    // CCNet-style segment ("line") boilerplate removal: corpus-frequent
    // normalized segments dropped, docs reconstructed in order
    "dedup_lines" -> Query((s, d) => Dedup.segmentDedup(s, d), Sql(Dedup.segmentDedupOracle)),
    // incremental near-dup screen of a new ingest batch against the
    // standing corpus: batch band keys bloom-probe the corpus band
    // derivation below the join exchange (q14 machinery)
    "dedup_incremental" -> Query((s, d) => Dedup.incrementalNearDups(s, d),
      Sql(Dedup.incrementalNearDupsOracle)),
    // SemDeDup: cell-local cosine pairs within the trained k-means
    // clustering (candidates bounded by the largest cell)
    "dedup_semantic" -> Query((s, d) => Dedup.semanticNearDups(s, d, P.EmbDupThreshold),
      Sql(Dedup.semanticNearDupsOracle(P.EmbDupThreshold))),
    // exact duplicated-span detection (Lee et al. ExactSubstr): maximal
    // per-doc spans of corpus-repeated 8-token windows, gaps-and-islands
    "dedup_spans" -> Query((s, d) => Dedup.spanDedup(s, d), Sql(Dedup.spanDedupOracle)),
    // OPT-IN hot-window df-cap: boilerplate windows (count > total/inv)
    // dropped from duplicate marking; counts via hash agg, never a
    // per-key window partition — different results by design, own oracle
    "dedup_spans_capped" -> Query((s, d) => Dedup.spanDedupCapped(s, d, P.SpanCapInv),
      Sql(Dedup.spanDedupCappedOracle(P.SpanCapInv))),
    // --- similarity search ---
    "ann_cosine_topk" -> Query((s, d) => Similarity.cosineTopK(s, d, P.CosineProbe, P.CosineK),
      Sql(Similarity.cosineTopKOracle(P.CosineProbe, P.CosineK))),
    "ann_lsh_buckets" -> Query((s, d) => Similarity.lshBuckets(s, d, planes = 8),
      Sql(Similarity.lshBucketsOracle(8))),
    "ann_ivf_topk" -> Query((s, d) => Similarity.ivfTopK(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivfTopKOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // materialized cell-partitioned IVF index + pruned read (same oracle:
    // identical results, different physical plan — nprobe/C of the data)
    "ann_ivf_bucketed" -> Query((s, d) => Similarity.ivfBucketedTopK(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivfTopKOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // the ncells growth policy wired: codebook size derives from the
    // corpus count at build time (cells ~ N/125; lands on the anchor 16
    // at gate scale, the measured flat-probed-rows sizes at replicas)
    // autoCells: the auto face derives ncells from the corpus size, so
    // its oracle must too (fixed-vs-derived coincide at gate scale only —
    // the round-13 sf1 rehearsal's catch)
    "ann_ivf_auto" -> Query((s, d) => Similarity.ivfBucketedTopKAuto(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivfTopKAutoOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // the O(N*sqrt(C)) BUILD escalation: index built with the two-level
    // (quantized) assignment, probed by the same two-level selection;
    // what the quantization costs is the agreement row's number
    "ann_ivf2_assigned" -> Query((s, d) => Similarity.ivf2AssignedTopK(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivf2AssignedTopKOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    "ann_ivf2_assign_agree" -> Query((s, d) => Similarity.ivf2AssignAgreement(s, d),
      Sql(Similarity.ivf2AssignAgreementOracle())),
    // what a CALLER experiences over the two-level-BUILT index: recall@k
    // vs exact ground truth (the agreement row measures assignment drift;
    // this measures its serving price)
    "ann_ivf2_assigned_recall" -> Query((s, d) => Similarity.ivf2AssignedRecall(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivf2AssignedRecallOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // measured recall@k of IVF vs the exact brute-force ground truth
    "ann_ivf_recall" -> Query((s, d) => Similarity.ivfRecall(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivfRecallOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // TRAINED IVF codebook: spherical k-means Lloyd iterations, map-only
    // assignment over a one-row broadcast codebook, integer-quantized
    // centroid means (bit-identical across engines)
    "ann_kmeans_train" -> Query((s, d) => KMeans.kmeansTrain(s, d),
      Sql(KMeans.kmeansTrainOracle())),
    // IVF query over the trained codebook — same query-side plan as
    // ann_ivf_topk, better cells
    "ann_ivf_trained" -> Query((s, d) => KMeans.ivfTrainedTopK(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(KMeans.ivfTrainedTopKOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // BATCH ANN: IVF top-k for a probe table in one plan (per-probe
    // window ranks; equi-joins on the cell key)
    "ann_ivf_batch" -> Query((s, d) => Similarity.ivfBatchTopK(s, d, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivfBatchTopKOracle(P.IvfK, nprobe = P.IvfNprobe))),
    // two-level IVF: the codebook itself quantized (coarse reps over the
    // fine centroids) so query-side centroid work is O(sqrt(C)) — the
    // ncells-measurement escalation for ncells ∝ N deployments
    "ann_ivf2_topk" -> Query((s, d) => Similarity.ivf2TopK(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivf2TopKOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    "ann_ivf2_recall" -> Query((s, d) => Similarity.ivf2Recall(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivf2RecallOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // the same two-level selection SERVED from the cell-partitioned index
    // (pruned read of the nprobe cell dirs; shares ivf2_topk's oracle)
    "ann_ivf2_bucketed" -> Query((s, d) => Similarity.ivf2BucketedTopK(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivf2TopKOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // product quantization: 8-byte codes + ADC lookup-table scoring (the
    // compressed coarse pass at 100 TB); recall vs exact L2 kept visible
    "ann_pq_topk" -> Query((s, d) => Similarity.pqTopK(s, d, P.IvfProbe, P.IvfK),
      Sql(Similarity.pqTopKOracle(P.IvfProbe, P.IvfK))),
    "ann_pq_recall" -> Query((s, d) => Similarity.pqMeanRecall(s, d, P.IvfK),
      Sql(Similarity.pqMeanRecallOracle(P.IvfK))),
    // the composed stack: IVF prunes which cells are read, PQ codes score
    "ann_ivfpq_topk" -> Query((s, d) => Similarity.ivfPqTopK(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivfPqTopKOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // the full serving stack: two-level cell selection (O(sqrt C) centroid
    // work) + PQ-ADC scoring; _bucketed reads ONLY the probed cells of the
    // cell-partitioned codes artifact (DPP-pruned 8-byte column, no floats)
    "ann_ivf2pq_topk" -> Query((s, d) => Similarity.ivf2PqTopK(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivf2PqTopKOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    "ann_ivf2pq_bucketed" -> Query((s, d) => Similarity.ivf2PqBucketedTopK(s, d, P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivf2PqTopKOracle(P.IvfProbe, P.IvfK, nprobe = P.IvfNprobe))),
    // batch ADC over the cell-partitioned codes: a probe TABLE scored in
    // one DPP-pruned plan (per-probe LUT broadcast; the ingest-side
    // compressed scoring pass — ivf_batch's exact re-rank reads floats,
    // this reads 8-byte codes)
    "ann_ivfpq_batch" -> Query((s, d) => Similarity.ivfPqBatchTopK(s, d, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivfPqBatchTopKOracle(P.IvfK, nprobe = P.IvfNprobe))),
    // mean recall of the composed stack (cell pruning + code approximation
    // losses TOGETHER) vs exact L2 — ivf_recall/pq_recall isolate each leg
    "ann_ivfpq_recall" -> Query((s, d) => Similarity.ivfPqBatchRecall(s, d, P.IvfK, nprobe = P.IvfNprobe),
      Sql(Similarity.ivfPqBatchRecallOracle(P.IvfK, nprobe = P.IvfNprobe))),
    // coarse+refine: ADC shortlist (refine*k deep, DPP-pruned codes read)
    // re-ranked by int8-dequantized cosine point reads — the full serving
    // ladder in one plan, back in the family's exact metric
    "ann_ivf2pq_refine" -> Query((s, d) => Similarity.ivf2PqRefineTopKSized(s, d, P.IvfProbe, P.IvfK),
      Sql(Similarity.ivf2PqRefineTopKSizedOracle(P.IvfProbe, P.IvfK))),
    "ann_refine_recall" -> Query((s, d) => Similarity.ivf2PqRefineRecallSized(s, d, P.IvfProbe, P.IvfK),
      Sql(Similarity.ivf2PqRefineRecallSizedOracle(P.IvfProbe, P.IvfK))),
    // same semantics over the MATERIALIZED code artifact (shared oracle)
    "ann_pq_indexed" -> Query((s, d) => Similarity.pqTopKIndexed(s, d, P.IvfProbe, P.IvfK),
      Sql(Similarity.pqTopKOracle(P.IvfProbe, P.IvfK))),
    // per-subspace L2 Lloyd-trained codebooks (the proper PQ trainer);
    // recall row shows what training buys over the raw sample
    "ann_pq_trained" -> Query((s, d) => KMeans.pqTrainedTopK(s, d, P.IvfProbe, P.IvfK),
      Sql(KMeans.pqTrainedTopKOracle(P.IvfProbe, P.IvfK))),
    "ann_pq_trained_recall" -> Query((s, d) => KMeans.pqTrainedRecall(s, d, P.IvfK),
      Sql(KMeans.pqTrainedRecallOracle(P.IvfK))),
    // per-vector symmetric int8 quantization with measured reconstruction
    // error (the 4x codec next to PQ's 32x)
    "emb_int8" -> Query((s, d) => Similarity.int8Quantize(s, d),
      Sql(Similarity.int8QuantizeOracle)),
    // measured mean recall@k of cosine search over the int8 tier vs the
    // float baseline (both sides quantized — the honest serving condition)
    "ann_int8_recall" -> Query((s, d) => Similarity.int8MeanRecall(s, d, P.IvfK),
      Sql(Similarity.int8MeanRecallOracle(P.IvfK))),
    // cosine top-k SERVED from the materialized int8 code artifact —
    // the hot tier searched without ever re-reading float embeddings
    "ann_int8_topk" -> Query((s, d) => Similarity.int8TopK(s, d, P.CosineProbe, P.CosineK),
      Sql(Similarity.int8TopKOracle(P.CosineProbe, P.CosineK))),
    // deterministic Rademacher random projection d → d/4: the third codec
    // axis (fewer components) next to int8 (narrower) and PQ (codes);
    // map-only row-local derivation
    "emb_rp" -> Query((s, d) => Similarity.rpProjectRows(s, d),
      Sql(Similarity.rpProjectRowsOracle)),
    // cosine top-k in the projected space (the cheap coarse pass)
    "ann_rp_topk" -> Query((s, d) => Similarity.rpTopK(s, d, P.CosineProbe, P.CosineK),
      Sql(Similarity.rpTopKOracle(P.CosineProbe, P.CosineK))),
    // the same search SERVED from the materialized 16-double projection
    // artifact — never re-reads float embeddings (shares rp_topk's oracle)
    "ann_rp_indexed" -> Query((s, d) => Similarity.rpTopKIndexed(s, d, P.CosineProbe, P.CosineK),
      Sql(Similarity.rpTopKOracle(P.CosineProbe, P.CosineK))),
    // measured mean recall@k of projected-space top-k vs the exact float
    // baseline (both sides projected — the honest serving condition)
    "ann_rp_recall" -> Query((s, d) => Similarity.rpMeanRecall(s, d, P.IvfK),
      Sql(Similarity.rpMeanRecallOracle(P.IvfK))),
    // --- text analysis ---
    "text_langid" -> Query((s, d) => TextAnalysis.languageId(s, d),
      Sql(TextAnalysis.languageIdOracle)),
    // the end-to-end corpus-prep composition: language gate → quality
    // gate → dedup survivors
    "corpus_prep" -> Query((s, d) => CorpusPrep.corpusPrep(s, d),
      Sql(CorpusPrep.corpusPrepOracle())),
    // percentile-anchored quality gate: median as a scalar subquery
    "corpus_quality_cut" -> Query((s, d) => CorpusPrep.qualityCut(s, d),
      Sql(CorpusPrep.qualityCutOracle)),
    // eval-set decontamination: train docs sharing an 8-token window with
    // the eval slice are flagged (n-gram overlap decontamination)
    "corpus_decontaminate" -> Query((s, d) => CorpusPrep.decontaminate(s, d),
      Sql(CorpusPrep.decontaminateOracle())),
    // the graded face: per-doc eval-overlap fraction (exact per-mille),
    // windows counted with multiplicity — the downstream cut is a knob
    "corpus_contamination_frac" -> Query((s, d) => CorpusPrep.contaminationFrac(s, d),
      Sql(CorpusPrep.contaminationFracOracle())),
    // per-source observability rollup: volume, language mix, dedup
    // health, contamination, quantized mean quality — one plan
    "corpus_stats" -> Query((s, d) => CorpusPrep.corpusStats(s, d),
      Sql(CorpusPrep.corpusStatsOracle)),
    // the serving twin: rollup from the MATERIALIZED per-doc metadata
    // pair (graft_docbase ⋈ graft_docglobal) — a refresh never re-runs the pipeline
    "corpus_stats_indexed" -> Query((s, d) => CorpusPrep.corpusStatsIndexed(s, d),
      Sql(CorpusPrep.corpusStatsOracle)),
    // the pipeline gate served from the label table: prep == a filter
    // over per-doc labels the pipeline already computed
    "corpus_prep_indexed" -> Query((s, d) => CorpusPrep.corpusPrepIndexed(s, d),
      Sql(CorpusPrep.corpusPrepOracle())),
    // the per-batch half of the deferred-overlay ingest cadence: exact +
    // near-dup screens of the arriving split vs the standing corpus
    "corpus_ingest_screen" -> Query((s, d) => CorpusPrep.ingestScreen(s, d),
      Sql(CorpusPrep.ingestScreenOracle)),
    // the compaction-window half made incremental: the DELTA overlay
    // refresh (recompute only arrival-affected docs from artifact-shaped
    // inputs, carry everything else from the prior overlay) must equal
    // the from-scratch overlay of the whole corpus — the oracle IS the
    // full rebuild. The %10==7 arrival split is a BACKFILL (interleaved
    // smaller ids), so the demotion paths are exercised, not just append.
    "corpus_overlay_delta" -> Query((s, d) => {
      val all = Tables.documents(s, d)
      val standing = all.filter(
        pmod(col("doc_id"), lit(Dedup.IncMod)) =!= Dedup.IncRem)
      // The anchor derives its four inputs INLINE (they stand in for the
      // artifacts the production face reads — deltaOverlayRefresh). CUT
      // once (r16; r15 persisted): deltaOverlayOver consumes each input
      // from 3-6 branches, and left lazy every branch re-derived the
      // minhash signatures / norm hashes from raw text. r15's persist
      // shared the computation but kept the full logical subtree in the
      // plan, re-ANALYZED per reference (8.5k-line plan, 1249 Exchange
      // refs, 0.44 anti-scaling); the cut truncates each input to a
      // materialized leaf — the exact shape of the artifact read the
      // production face performs, so the timing stays honest (the cut
      // runs inside the timed region).
      // the four inputs are independent derivations — cut them
      // CONCURRENTLY (r16): the materializations overlap instead of
      // summing, exactly as the production face's artifact ensures do
      val Seq(nh, br, dw, dg) = Lineage.cutAll(
        CorpusPrep.normHashRows(all),
        Dedup.bandRows(all),
        CorpusPrep.docWinRows(all),
        CorpusPrep.docGlobalOverDocs(standing))
      CorpusPrep.deltaOverlayOver(nh, br, dw, dg)
    }, Sql(CorpusPrep.docGlobalOracle())),
    // the WHOLE streaming cadence lifecycle as one auditable row: 70%
    // standing bootstrap → three 10% arrival micro-batches through the
    // REAL Structured Streaming cadence sink (file source, one file per
    // trigger, AvailableNow drain) → the compaction clock folds all three
    // appended artifacts → the dispatched overlay refresh — and the SERVED
    // relation must hash-equal the from-scratch full-corpus overlay
    // (docGlobalOracle), making the stream==batch equivalence visible in
    // CORRECTNESS_r{N} itself, not only in StreamingSpec
    "corpus_cadence_served" -> Query((s, d) => {
      val work = java.nio.file.Files
        .createTempDirectory("graft-cadence-served").toString
      val all = Tables.documents(s, d)
      all.filter(pmod(col("doc_id"), lit(10L)) < 7L)
        .write.mode("overwrite").parquet(s"$work/documents.parquet")
      CorpusPrep.bootstrapStanding(s, work)
      val incoming = s"$work/incoming"
      Seq(7L, 8L, 9L).foreach { r =>
        all.filter(pmod(col("doc_id"), lit(10L)) === r)
          .coalesce(1).write.mode("append").parquet(incoming)
      }
      val stream = s.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", 1).parquet(incoming)
      val q = graft.streaming.StreamOps.ingestCadenceStream(stream, work,
        availableNow = true)((verdict, _) => { verdict.count(); () })
      q.awaitTermination()
      CorpusPrep.compactCadenceIfDue(s, work, maxPending = 2L)
      val (served, _) = CorpusPrep.compactionRefreshAuto(s, work, floorDocs = 1L)
      Tables.parquet(s, served).orderBy(col("doc_id"))
    }, Sql(CorpusPrep.docGlobalOracle())),
    "text_quality" -> Query((s, d) => TextAnalysis.qualityScore(s, d),
      Sql(TextAnalysis.qualityScoreOracle)),
    // intra-doc repetition (Gopher-style dup/top n-gram fractions)
    "text_repetition" -> Query((s, d) => TextAnalysis.repetition(s, d),
      Sql(TextAnalysis.repetitionOracle())),
    "text_tokens" -> Query((s, d) => TextAnalysis.tokenCounts(s, d),
      Sql(TextAnalysis.tokenCountsOracle)),
    // distributed BPE training (one corpus pass, vocabulary-sized merge
    // iterations, materialized per round) + encoding under the merges
    "tok_bpe_merges" -> Query((s, d) => BpeTrainer.bpeMerges(s, d),
      Sql(BpeTrainer.bpeMergesOracle())),
    "tok_bpe_encode" -> Query((s, d) => BpeTrainer.bpeEncode(s, d),
      Sql(BpeTrainer.bpeEncodeOracle())),
    // tokenizer-eval instrument: per-mille corpus coverage of the trained
    // vocabulary's top-V prefix (exact integer cumulative counts)
    "tok_vocab_coverage" -> Query((s, d) => BpeTrainer.vocabCoverage(s, d),
      Sql(BpeTrainer.vocabCoverageOracle())),
    // second tokenizer family: minimal-piece DP segmentation over a
    // frequency-cut substring vocabulary (exact-integer objectives in the
    // EM-score slot; single-consumer layer fold — linear lazy plan)
    "tok_minseg_vocab" -> Query((s, d) => Unigram.vocabTopV(s, d), Sql(Unigram.vocabTopVOracle)),
    "tok_minseg_encode" -> Query((s, d) => Unigram.encode(s, d), Sql(Unigram.encodeOracle)),
    // the serving twin: encode joins the materialized per-word DP table
    // (graft_minseg) — the DP never re-runs per encode pass
    "tok_minseg_indexed" -> Query((s, d) => Unigram.encodeIndexed(s, d), Sql(Unigram.encodeOracle)),
    "text_fingerprint" -> Query((s, d) => TextAnalysis.fingerprint(s, d),
      Sql(TextAnalysis.fingerprintOracle)),
    // winnowing (SIGMOD'03): sampled fingerprints with the guarantee that
    // any shared run >= K+W-1 tokens is caught — the middle ground between
    // the whole-doc hash and the stride-1 span relation
    "text_winnow" -> Query((s, d) => TextAnalysis.winnow(s, d), Sql(TextAnalysis.winnowOracle)),
    // overlap pairs over the winnowed selection (>= 2 shared fingerprints)
    "dedup_winnow_pairs" -> Query((s, d) => Dedup.winnowPairs(s, d), Sql(Dedup.winnowPairsOracle)),
    "dedup_winnow_capped" -> Query((s, d) => Dedup.winnowPairsCapped(s, d, P.WinnowCapInv),
      Sql(Dedup.winnowPairsCappedOracle(P.WinnowCapInv))),
    // the serving twin: the pair join over the MATERIALIZED selection
    // artifact — a pairs pass never re-scans raw text (same oracle)
    "dedup_winnow_indexed" -> Query((s, d) => Dedup.winnowPairsIndexed(s, d),
      Sql(Dedup.winnowPairsOracle)),
    // admission control for the winnow pair join: Σ_fp df² predicted from
    // the materialized fingerprint-stats artifact, dispatching
    // uncapped-vs-capped (the fuzzy_batch_auto / containment_auto pattern)
    "dedup_winnow_cost" -> Query((s, d) => Dedup.winnowCandidateCost(s, d),
      Sql(Dedup.winnowCandidateCostOracle)),
    // tier-2 volume prediction — what exposes the relative cut's uniform-
    // hotness blind spot before the join is paid (Σ df² over KEPT fps)
    "dedup_winnow_cost_capped" -> Query((s, d) =>
      Dedup.winnowCappedCandidateCost(s, d, P.WinnowCapInv),
      Sql(Dedup.winnowCappedCandidateCostOracle(P.WinnowCapInv))),
    // tier 3: absolute per-fp truncation (the fuzzy champion design) —
    // bounded pair volume at ANY corpus, incl. uniformly cloned ones
    "dedup_winnow_champ" -> Query((s, d) => Dedup.winnowPairsChamp(s, d, P.WinnowCapInv),
      Sql(Dedup.winnowPairsChampOracle(P.WinnowCapInv))),
    // the champion tier's measured quality cost: pair recall vs the
    // uncapped and relative-capped anchors (the fuzzy champ-recall design)
    "dedup_winnow_champ_recall" -> Query((s, d) =>
      Dedup.winnowChampRecall(s, d, P.WinnowCapInv),
      Sql(Dedup.winnowChampRecallOracle(P.WinnowCapInv))),
    "dedup_winnow_auto" -> Query((s, d) => Dedup.winnowPairsAuto(s, d, P.WinnowCapInv),
      Sql(Dedup.winnowPairsAutoOracle(P.WinnowCapInv))),
    "dedup_containment_cost" -> Query((s, d) => Dedup.containmentCandidateCost(s, d, P.ContainThreshold),
      Sql(Dedup.containmentCandidateCostOracle(P.ContainThreshold))),
    "dedup_containment_capped" -> Query((s, d) =>
      Dedup.containmentPairsCapped(s, d, P.ContainThreshold, P.ContainCapInv),
      Sql(Dedup.containmentPairsCappedOracle(P.ContainThreshold, P.ContainCapInv))),
    "dedup_containment_auto" -> Query((s, d) =>
      Dedup.containmentPairsAuto(s, d, P.ContainThreshold, P.ContainCapInv),
      Sql(Dedup.containmentPairsAutoOracle(P.ContainThreshold, P.ContainCapInv))),
    "dedup_containment_screen" -> Query((s, d) =>
      Dedup.containmentScreen(s, d, P.ContainThreshold),
      Sql(Dedup.containmentScreenOracle(P.ContainThreshold))),
    // trained quality classifier: full-batch GD (8 one-aggregate passes
    // over the materialized feature relation, quantized gradients, no
    // driver loop) recovering a deterministic teacher labeling
    "quality_lr_train" -> Query((s, d) => QualityModel.lrTrain(s, d),
      Sql(QualityModel.lrTrainOracle)),
    "quality_lr_score" -> Query((s, d) => QualityModel.lrScore(s, d),
      Sql(QualityModel.lrScoreOracle)),
    // the serving twin: scores under the MATERIALIZED weight artifact
    // (graft_lrweights) — a scoring pass never re-runs the GD fold
    "quality_lr_indexed" -> Query((s, d) => QualityModel.lrScoreIndexed(s, d),
      Sql(QualityModel.lrScoreOracle)),
    "text_tf_topk" -> Query((s, d) => TextAnalysis.termDfTopK(s, d, TextAnalysis.TermTopK),
      Sql(TextAnalysis.termDfTopKOracle(TextAnalysis.TermTopK))),
    "text_pii_mask" -> Query((s, d) => TextAnalysis.piiMask(s, d), Sql(TextAnalysis.piiMaskOracle)),
    // corpus-LM fluency proxy: per-doc mean corpus frequency of its word
    // bigrams (integer-exact counts, one final division)
    "text_bigram_score" -> Query((s, d) => TextAnalysis.bigramScore(s, d),
      Sql(TextAnalysis.bigramScoreOracle)),
    // trained-LM fluency filter (CCNet-style, arXiv:1911.00359): add-one
    // bigram LM trained on the deterministic train split, every doc
    // scored by quantized mean conditional probability (integer division
    // only — the no-transcendental house rule); the indexed twin serves
    // from the kind-partitioned graft_lmmodel artifact
    "lm_train" -> Query((s, d) => LmQuality.lmTrain(s, d), Sql(LmQuality.lmTrainOracle)),
    "lm_score" -> Query((s, d) => LmQuality.lmScore(s, d), Sql(LmQuality.lmScoreOracle)),
    "lm_score_indexed" -> Query((s, d) => LmQuality.lmScoreIndexed(s, d),
      Sql(LmQuality.lmScoreOracle)),
    // the filter as a pipeline stage: median-anchored keep over the
    // SERVED scores (CCNet's percentile-anchored deployment shape)
    "corpus_lm_cut" -> Query((s, d) => LmQuality.lmCut(s, d), Sql(LmQuality.lmCutOracle)),
    // BM25 keyword retrieval (rational-idf variant, quantized per-term
    // sums — the no-transcendental house rule), served from the
    // materialized word-posting index (In(term) pushed into the scan)
    "text_bm25_topk" -> Query((s, d) => Retrieval.bm25TopK(s, d, P.Bm25Query, P.Bm25K),
      Sql(TextAnalysis.bm25TopKOracle(P.Bm25Query, P.Bm25K))),
    // batch BM25: a search-request TABLE in one plan (per-qid rank cap)
    "text_bm25_batch" -> Query((s, d) => Retrieval.bm25Batch(s, d, P.Bm25Batch, P.Bm25K),
      Sql(Retrieval.bm25BatchOracle(P.Bm25Batch, P.Bm25K))),
    // hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion
    // (all-integer contributions, full-outer pool join)
    "search_hybrid_rrf" -> Query((s, d) => Retrieval.hybridRrf(s, d, P.Bm25Query, P.CosineProbe, P.Bm25K),
      Sql(Retrieval.hybridRrfOracle(P.Bm25Query, P.CosineProbe, P.Bm25K))),
    // the index-served twin: dense pool candidates from the IVF-PQ stack,
    // re-ranked exactly by true cosine before fusion (brute form above
    // stays as the anchor)
    "search_hybrid_ivf" -> Query((s, d) => Retrieval.hybridRrfIvf(s, d, P.Bm25Query, P.CosineProbe, P.Bm25K, P.HybridNprobe),
      Sql(Retrieval.hybridRrfIvfOracle(P.Bm25Query, P.CosineProbe, P.Bm25K, P.HybridNprobe))),
    // the full-ladder hybrid: dense pool from two-level IVF selection →
    // DPP-pruned PQ codes shortlist → int8 hot-tier refine; no float
    // vector scan anywhere in the dense side (the 100 TB serving shape)
    "search_hybrid_ladder" -> Query((s, d) => Retrieval.hybridRrfLadder(s, d, P.Bm25Query, P.CosineProbe, P.Bm25K, P.HybridNprobe, P.HybridNprobe1),
      Sql(Retrieval.hybridRrfLadderOracle(P.Bm25Query, P.CosineProbe, P.Bm25K, P.HybridNprobe, P.HybridNprobe1))),
    // MMR diversified rerank of the cosine pool: the greedy rounds unroll
    // as array expressions over ONE collapsed pool row (no per-round
    // pool re-derivation)
    "search_mmr_rerank" -> Query((s, d) => Retrieval.mmrRerank(s, d, P.CosineProbe),
      Sql(Retrieval.mmrRerankOracle(P.CosineProbe))),
    // DSIR domain-targeted data selection (hashed-ngram importance
    // weights, rational mean-ratio deviation; Gumbel-free deterministic
    // top-k) — arithmetic gated here, discrimination pinned by DsirSpec
    "dsir_weights" -> Query((s, d) => Dsir.dsirWeights(s, d), Sql(Dsir.dsirWeightsOracle)),
    "dsir_topk" -> Query((s, d) => Dsir.dsirTopK(s, d), Sql(Dsir.dsirTopKOracle())),
    // the serving twin: scores against the MATERIALIZED additive-count
    // fit model (graft_dsirmodel) — no re-fit per scoring pass
    "dsir_weights_indexed" -> Query((s, d) => Dsir.dsirWeightsIndexed(s, d),
      Sql(Dsir.dsirWeightsOracle)),
    // the resampling step itself: deterministic hash-Bernoulli keep with
    // propensity ∝ importance weight (capped) — map-only over the pool
    "dsir_resample" -> Query((s, d) => Dsir.dsirResample(s, d), Sql(Dsir.dsirResampleOracle)),
    // schema'd JSONL ingest with PERMISSIVE corrupt-record rescue (raw
    // crawl-dump reading; oracle derives the outcome from documents)
    "src_jsonl_rescue" -> Query((s, d) => graft.sources.CorpusIngest.jsonlRescue(s, d),
      Sql(graft.sources.CorpusIngest.jsonlRescueOracle)),
    // --- corpus assembly (training-data pipeline) ---
    // deterministic hash-Bernoulli stratified sampling — map-only, no
    // shuffle/count pass, reproducible across runs and engines
    "sample_stratified" -> Query((s, d) => Pipeline.sampleStratified(s, d),
      Sql(Pipeline.sampleStratifiedOracle)),
    // deterministic 80/10/10 train/val/test split (hash-coin, map-only;
    // a doc's split never changes as the corpus grows)
    "corpus_split" -> Query((s, d) => Pipeline.corpusSplit(s, d), Sql(Pipeline.corpusSplitOracle)),
    // split-leakage audit: near-dup pairs straddling train/val/test (the
    // eval-inflation check) — banded candidates, map-only split labels
    "split_leakage" -> Query((s, d) => Pipeline.splitLeakage(s, d),
      Sql(Pipeline.splitLeakageOracle())),
    "corpus_split_clean" -> Query((s, d) => Pipeline.corpusSplitClean(s, d),
      Sql(Pipeline.corpusSplitCleanOracle)),
    "split_leakage_clean" -> Query((s, d) => Pipeline.splitLeakageClean(s, d),
      Sql(Pipeline.splitLeakageCleanOracle())),
    // export manifest: per-shard doc/token volume + order-free integrity
    // checksum — the record a training job trusts its input by
    "corpus_manifest" -> Query((s, d) => Pipeline.corpusManifest(s, d),
      Sql(Pipeline.corpusManifestOracle)),
    // weighted source interleave (mixture scheduling) via scaled-integer
    // positions — global stream head is distributed top-k
    "mix_interleave" -> Query((s, d) => Pipeline.mixInterleave(s, d),
      Sql(Pipeline.mixInterleaveOracle)),
    // tau=0.5 temperature mix: emission rate ∝ sqrt(source size)
    "mix_temperature" -> Query((s, d) => Pipeline.mixTemperature(s, d),
      Sql(Pipeline.mixTemperatureOracle())),
    // epoch-capped mixture plan: tau-weighted token allocation under a
    // 4-epoch repetition cap, exact integer water-filling
    "mix_epoch_cap" -> Query((s, d) => Pipeline.mixEpochCap(s, d), Sql(Pipeline.mixEpochCapOracle)),
    // the plan operationalized: deterministic per-doc repetition schedule
    // (hash-coin fractional epochs; map-only over the corpus)
    "mix_epoch_apply" -> Query((s, d) => Pipeline.mixEpochApply(s, d),
      Sql(Pipeline.mixEpochApplyOracle)),
    // concat-then-chunk sequence packing: per-source prefix sums → exact
    // integer pack assignment
    "doc_pack" -> Query((s, d) => Pipeline.docPack(s, d), Sql(Pipeline.docPackOracle)),
    // chunk-level packing view: docs explode into the packs they span,
    // exact integer piece ranges
    "doc_chunks" -> Query((s, d) => Pipeline.docChunks(s, d), Sql(Pipeline.docChunksOracle)),
    // deterministic training shuffle, shard-then-local-order (parallel
    // per-shard windows — no single-partition global row_number)
    "corpus_shuffle" -> Query((s, d) => Pipeline.corpusShuffle(s, d),
      Sql(Pipeline.corpusShuffleOracle)),
    // maximal shuffle-order prefix within a token budget (distributed
    // prefix-sum: bounded shard-offset broadcast + per-shard windows)
    "corpus_take_budget" -> Query((s, d) => Pipeline.corpusTakeBudget(s, d),
      Sql(Pipeline.corpusTakeBudgetOracle)),
    // shard-partitioned materialization + single-shard pruned read (the
    // training-reader path: scan touches 1/NumShards of the files)
    "corpus_shuffle_read" -> Query((s, d) => Pipeline.corpusShuffleRead(s, d),
      Sql(Pipeline.corpusShuffleReadOracle)),
    // the composed end-to-end corpus DAG: labels → dedup survivors +
    // splits → train token-budget cut → packing → shard layout →
    // manifest, each stage a chained materialized artifact reading ONLY
    // its upstream stage; serves as one scan of the final layout
    "corpus_e2e" -> Query((s, d) => Pipeline.corpusE2e(s, d), Sql(Pipeline.corpusE2eOracle)),
    "corpus_e2e_read" -> Query((s, d) => Pipeline.corpusE2eRead(s, d),
      Sql(Pipeline.corpusE2eReadOracle)),
    // --- multimodal binary columns ---
    "mm_decode_stats" -> Query((s, d) => Multimodal.decodeStats(s, d),
      Sql(Multimodal.decodeStatsOracle)),
    // frame-sampler plumbing: stride selection + per-frame slicing, one
    // row per sampled video frame
    "mm_frame_sample" -> Query((s, d) => Multimodal.frameSample(s, d),
      Sql(Multimodal.frameSampleOracle)),
    "mm_frame_dedup" -> Query((s, d) => Multimodal.frameDedup(s, d),
      Sql(Multimodal.frameDedupOracle)),
    // resize plumbing: aspect-preserving dim math + strided resample sig
    "mm_resize" -> Query((s, d) => Multimodal.resizeStats(s, d), Sql(Multimodal.resizeStatsOracle)),
    // audio PCM-downsample plumbing: integer decimation stride + strided
    // byte signature (completes image/audio/video)
    "mm_audio_resample" -> Query((s, d) => Multimodal.audioResample(s, d),
      Sql(Multimodal.audioResampleOracle)),
    // --- time windows / as-of / semi-structured ---
    "ev_tumbling" -> Query((s, d) => EventOps.tumbling(s, d), Sql(EventOps.tumblingOracle)),
    "ev_sliding" -> Query((s, d) => EventOps.sliding(s, d), Sql(EventOps.slidingOracle)),
    "ev_session" -> Query((s, d) => EventOps.sessions(s, d), Sql(EventOps.sessionsOracle)),
    "ev_asof_orders" -> Query((s, d) => EventOps.asofOrders(s, d), Sql(EventOps.asofOrdersOracle)),
    "ev_asof_latest" -> Query((s, d) => EventOps.asofLatestOrder(s, d),
      Sql(EventOps.asofLatestOrderOracle)),
    // same semantics as ev_asof_latest (one oracle gates both), spelled as
    // the linear union-and-propagate as-of — no per-key pair blow-up
    "ev_asof_union" -> Query((s, d) => EventOps.asofLatestOrderUnion(s, d),
      Sql(EventOps.asofLatestOrderOracle)),
    "ev_range_join" -> Query((s, d) => EventOps.rangeJoinActivity(s, d),
      Sql(EventOps.rangeJoinActivityOracle)),
    "ev_json_extract" -> Query((s, d) => EventOps.jsonExtract(s, d),
      Sql(EventOps.jsonExtractOracle)),
    // ordered conversion funnel: per-step min of an exact integer event
    // key; K equi-joins over a monotonically shrinking user set
    "ev_funnel" -> Query((s, d) => EventOps.funnel(s, d), Sql(EventOps.funnelOracle)),
    // cohort retention triangle: first-activity-day cohorts x day offset
    "ev_retention" -> Query((s, d) => EventOps.retention(s, d), Sql(EventOps.retentionOracle)),
    // trailing-hour rolling sum per user (RANGE window frame; exact
    // decimal sum over 2dp data)
    "ev_range_window" -> Query((s, d) => EventOps.rangeWindow(s, d),
      Sql(EventOps.rangeWindowOracle)),
    // OHLC hourly bars: open/close as argmin/argmax by the exact event
    // key, high/low plain extrema — one hash agg
    "ev_downsample_ohlc" -> Query((s, d) => EventOps.downsampleOhlc(s, d),
      Sql(EventOps.downsampleOhlcOracle)),
    // daily event-type matrix via pivot with an explicit value list
    "ev_pivot_daily" -> Query((s, d) => EventOps.pivotDaily(s, d), Sql(EventOps.pivotDailyOracle)),
    "ev_lag_delta" -> Query((s, d) => EventOps.lagDeltas(s, d), Sql(EventOps.lagDeltasOracle)),
    // Rows-only on purpose (HLL sketch has no DuckDB equivalent); the
    // gate records the weaker rows-only check per the contract.
    "ev_approx_distinct" -> Query((s, d) => EventOps.approxDistinctUsers(s, d), RowsOnly),
    // the exact-count twin IS oracled — the family's hash-matched anchor
    "ev_exact_distinct" -> Query((s, d) => EventOps.exactDistinctUsers(s, d),
      Sql(EventOps.exactDistinctUsersOracle)),
  )

  /** Damerau-Levenshtein showcase: nearest part names to a typo'd query by
    * the reference's composite geo-DL distance (geo_manager.py:28-32). */
  private def dlTopK(spark: SparkSession, dir: String): DataFrame =
    FuzzySearch.corpus(spark, dir)
      .withColumn("distance",
        geoDamerauLevenshtein(lit("smal widgets"), col("clean_value")).cast("long"))
      .select(col("id"), col("value"), col("distance"))
      .orderBy(col("distance"), col("id"))
      .limit(15)

  private val dlTopKOracle: String =
    s"""WITH corpus AS (${FuzzySearch.corpusCte})
       |SELECT id, value,
       |       least(damerau_levenshtein(split_part('smal widgets', ',', 1), split_part(clean_value, ',', 1)),
       |             damerau_levenshtein('smal widgets', clean_value))::BIGINT AS distance
       |FROM corpus
       |ORDER BY distance, id
       |LIMIT 15""".stripMargin

  /** The INSTRUMENT rows — queries whose output is a quality measurement
    * of another row (recall overlaps, assignment agreement), not data a
    * caller serves. They intentionally run extra anchor pipelines (a
    * recall row pays its exact reference AND the approximate tier), so
    * Bench reports their cost as its own category: the serving suite's
    * 2×-baseline budget stays readable as serving cost, and an instrument
    * growing a new anchor can never masquerade as a serving regression.
    * Membership is by the naming convention every such row follows. */
  def instrumentQueries: Set[String] =
    table.keySet.filter(n => n.endsWith("_recall") || n.endsWith("_agree"))

  /** Each query's Spark face, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map { case (name, q) => name -> q.face }

  /** Each query's oracle SQL, by name: every query but the rows-only ones. */
  def oracleSql: Map[String, String] =
    table.collect { case (name, Query(_, Sql(sql))) => name -> sql }
}
