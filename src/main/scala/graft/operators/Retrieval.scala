package graft.operators

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.oracle.OracleSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval over the documents corpus: batch BM25 (a query TABLE resolved
  * in one plan — the serving shape of text_bm25_topk, exactly as
  * fuzzy_batch is the serving shape of fuzzy_search) and hybrid
  * lexical+dense fusion by Reciprocal Rank Fusion (Cormack et al. 2009,
  * the standard score-free combiner in modern search stacks).
  *
  * Same bit-exactness posture as TextAnalysis.bm25TopK: rational-odds idf
  * (no transcendental), per-(qid, doc, term) scores floor-quantized to
  * longs before the order-nondeterministic parallel sum, RRF contributions
  * as floor of one double division of exact integers.
  */
object Retrieval {

  // --------------------------- materialized word-posting index (serving)

  /** Row-local word-posting derivation: (term, doc_id, tf, dl). The doc
    * length is DENORMALIZED into every posting row so serving never joins
    * a corpus-sized doc-length relation — one long per row buys a
    * join-free read path. Row-local per doc, so
    * postings(corpus ∪ batch) == postings(corpus) ∪ postings(batch) and
    * the append lifecycle is exact (IncrementalIndexSpec). */
  private[graft] def wordPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Per-batch corpus stats row (n docs, total tokens). ADDITIVE across
    * batches: the artifact accumulates one row per build/append and the
    * read sums them — that is what lets a one-row global stat have an
    * append face at all. */
  private[graft] def wordStats(docs: DataFrame): DataFrame =
    docs.select(size(tokens(lower(col("text")))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))

  /** The word index (at scale built at ingest): term-clustered postings
    * sorted within files, so row-group min/max stats prune a term probe to
    * the probed terms' postings (the graft_postings layout keyed by term
    * instead of trigram), and the additive stats rows, folded to one by
    * compaction. Both derivations are row-local per doc, so a batch's rows
    * land beside the existing files exactly. */
  val WordPostings: graft.Artifact = graft.Artifact("graft_wordpostings", 1,
    wordPostings, graft.Artifact.Clustered(Seq("term"), Seq("term")))
  val WordStats: graft.Artifact = graft.Artifact("graft_wordstats", 1, wordStats,
    graft.Artifact.Plain, _.agg(sum(col("n")).as("n"), sum(col("sdl")).as("sdl")))

  /** [[WordPostings]] and [[WordStats]] ensured over `docs`:
    * (postings path, stats path). */
  def ensureWordIndex(spark: SparkSession, dir: String, docs: DataFrame): (String, String) =
    (graft.Materialize.ensure(spark, WordPostings, dir, docs),
      graft.Materialize.ensure(spark, WordStats, dir, docs))

  /** Fresh read of the materialized posting relation (ensured on first
    * call) — each call lists the artifact anew, so it picks up appended
    * files. */
  def wordPostingsOf(spark: SparkSession, dir: String): DataFrame = {
    val (pp, _) = ensureWordIndex(spark, dir, Tables.documents(spark, dir))
    Tables.parquet(spark, pp)
  }

  /** The summed one-row (n, sdl) corpus stats from the artifact. */
  def wordStatsOf(spark: SparkSession, dir: String): DataFrame = {
    val (_, sp) = ensureWordIndex(spark, dir, Tables.documents(spark, dir))
    wordStatsAt(spark, sp)
  }

  private def wordStatsAt(spark: SparkSession, sp: String): DataFrame =
    Tables.parquet(spark, sp).agg(sum(col("n")).as("n"), sum(col("sdl")).as("sdl"))

  /** Bloom sizing for the batch term probe: build side is the batch's
    * distinct term set; false positives only cost pruning efficiency (the
    * exact term equi-join removes them) — same machinery and sizing story
    * as FuzzySearch.IndexBloom*. */
  val TermBloomEstItems = 100000L
  val TermBloomNumBits = 1000000L

  /** Batch BM25 over an explicit (qid, term) query relation, served from
    * the MATERIALIZED word-posting index — the core of the gate query.
    * Plan: the batch's distinct term set folds into a runtime bloom
    * (scalar subquery) evaluated INSIDE the posting scan stage, so only postings of terms
    * some query might use survive to any exchange (the q14 machinery, the
    * round-3 fuzzy_batch_indexed story keyed by term); the exact
    * broadcast term join removes false positives; df is a tiny aggregate
    * over the PRUNED postings (identical to corpus-wide df for those
    * terms); per-(qid, doc) sums are map-side combinable over quantized
    * longs; the per-qid top-k is a rank-window (WindowGroupLimit applies
    * the cap map-side). A request's ranking depends only on its own
    * terms, so the core is exact per micro-batch of a stream whose
    * requests arrive whole (StreamingSpec runs it that way).
    * At 100 TB the per-batch read cost is O(postings of the union of
    * query terms) + a bloom pass over scanned rows — never a corpus
    * tokenize. */
  def bm25BatchOverPostings(queries: DataFrame, postings: DataFrame,
                            stats: DataFrame, k: Int): DataFrame = {
    import graft.functions.SketchFunctions._
    import TextAnalysis.Bm25Quant
    // Dedupe request rows: a repeated (qid, term) must not double-count
    // its term score — the request contract is a term SET per qid.
    val qRel = queries.select(col("qid"), col("term")).distinct()
    val qTerms = qRel.select(col("term")).distinct()
    val termBloom = qTerms.agg(
      bloomFilterAgg(xxhash64(col("term")), TermBloomEstItems, TermBloomNumBits).as("bf"))
    val matched = postings
      .filter(mightContain(termBloom.scalar(), xxhash64(col("term"))))
      .join(broadcast(qTerms), "term")
    val df = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val perQuery = matched.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        TextAnalysis.bm25Qs(col("tf"), col("df"), col("n"), col("sdl"), col("dl")).as("qs"))
      .join(broadcast(qRel), "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("qs")).as("score_q"))
    perQuery
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score_q").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("doc_id"), col("n_terms"),
        (col("score_q").cast("double") / Bm25Quant.toDouble).as("bm25"))
      .orderBy(col("qid"), col("bm25").desc, col("doc_id"))
  }

  /** Gate form: the fixed query table from SparkEntry's shared params,
    * served from the materialized index. */
  def bm25Batch(spark: SparkSession, dir: String, queryTable: Seq[(Long, String)],
                k: Int): DataFrame = {
    import spark.implicits._
    bm25BatchOverPostings(queryTable.toDF("qid", "term"),
      wordPostingsOf(spark, dir), wordStatsOf(spark, dir), k)
  }

  /** Single-query BM25 top-k served from the materialized index: the
    * LITERAL term set pushes into the posting scan as `In(term, ...)`
    * (PushedFilters — row-group stats skip everything but the probed
    * terms' postings, the fuzzy_indexed read pattern). Identical values
    * to the inline TextAnalysis.bm25TopK (one shared oracle gates both). */
  def bm25TopK(spark: SparkSession, dir: String, query: Seq[String], k: Int): DataFrame = {
    import TextAnalysis.Bm25Quant
    val (pp, sp) = ensureWordIndex(spark, dir, Tables.documents(spark, dir))
    val matched = Tables.parquet(spark, pp).filter(col("term").isin(query: _*))
    val df = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val sc = matched.join(broadcast(df), "term")
      .crossJoin(broadcast(wordStatsAt(spark, sp)))
      .select(col("doc_id"),
        TextAnalysis.bm25Qs(col("tf"), col("df"), col("n"), col("sdl"), col("dl")).as("qs"))
    sc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("qs")).as("score_q"))
      .select(col("doc_id"), col("n_terms"),
        (col("score_q").cast("double") / Bm25Quant.toDouble).as("bm25"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)
  }

  def bm25BatchOracle(queryTable: Seq[(Long, String)], k: Int): String = {
    import TextAnalysis.Bm25Quant
    val toks = OracleSql.tokens("lower(text)")
    val vals = queryTable.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH q AS (SELECT DISTINCT qid, term FROM (VALUES $vals) v(qid, term)),
       |tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |dl AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM tok),
       |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl FROM dl),
       |t AS (SELECT doc_id, unnest(tk) AS term FROM tok),
       |m AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t
       |      WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM m GROUP BY term),
       |sc AS (SELECT m.doc_id, m.term,
       |         ${TextAnalysis.bm25QsSql("m.tf", "df.df", "st.n", "st.sdl", "dl.dl")} AS qs
       |       FROM m JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
       |pq AS (SELECT q.qid, sc.doc_id, count(*)::BIGINT AS n_terms,
       |              sum(sc.qs)::BIGINT AS score_q
       |       FROM sc JOIN q USING (term) GROUP BY q.qid, sc.doc_id),
       |r AS (SELECT qid, doc_id, n_terms, score_q,
       |             row_number() OVER (PARTITION BY qid
       |                                ORDER BY score_q DESC, doc_id) AS rk
       |      FROM pq)
       |SELECT qid::BIGINT AS qid, doc_id, n_terms,
       |       score_q::DOUBLE / $Bm25Quant.0 AS bm25
       |FROM r WHERE rk <= $k
       |ORDER BY qid, bm25 DESC, doc_id""".stripMargin
  }

  // -------------------------------------------- hybrid RRF (lexical+dense)

  val RrfK = 60L
  val RrfScale = 1000000000L
  /** Pool depth per retriever before fusion. */
  val RrfPoolN = 50
  /** Dense candidate widening for the IVF-served pool: the coarse PQ pass
    * returns `RrfPoolN × RrfRerankWiden` candidates, the exact re-rank
    * keeps the true-cosine top `RrfPoolN`. Widening removes the coarse
    * truncation loss ENTIRELY (pool overlap rises to the IVF cell-coverage
    * ceiling) at the cost of `widen×N` extra 8-byte-code scores and exact
    * re-ranks — negligible next to the posting/cell reads. Measured at
    * sf0.001, probe 0, N=50: overlap 0.56 → 0.84 (with nprobe 12). */
  val RrfRerankWiden = 4

  /** Hybrid retrieval: the lexical BM25 ranking and the dense cosine
    * ranking of the SAME corpus (vec_id aligns with doc_id in the driver
    * tables — in production the two are one table with text + embedding
    * columns) fused by Reciprocal Rank Fusion:
    * rrf(d) = Σ_retriever floor(SCALE / (K + rank_r(d))), missing side
    * contributes 0. Rank-based fusion is score-free (no cross-retriever
    * calibration) and all-integer here: each contribution is the floor of
    * ONE double division of exact integers — bit-identical cross-engine.
    *
    * Scale shape: both pools are top-N head reads (TakeOrderedAndProject
    * over their respective scans); the fusion is a full-outer join of two
    * N-row relations + one more head — negligible next to retrieval. The
    * lexical pool reads the materialized word-posting index (In-pushed
    * term probe); the dense pool here is the exact brute-force anchor —
    * `hybridRrfIvf` is the serving twin whose dense pool reads the IVF-PQ
    * index. */
  def hybridRrf(spark: SparkSession, dir: String, queryTerms: Seq[String],
                probeId: Long, k: Int): DataFrame = {
    val lexPool = bm25TopK(spark, dir, queryTerms, RrfPoolN)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long").as("lex_rank"))
    // NaN guard: a zero-norm embedding's cosine is NaN, which both
    // engines sort FIRST under DESC — unguarded it would take dense_rank
    // 1 and the maximum RRF contribution (the gate corpus has no zero
    // vectors, so this is invisible to the oracle; same guard as
    // dedup_embedding / dedup_semantic / ann_int8_recall).
    val densePool = Similarity.cosineTopK(spark, dir, probeId, RrfPoolN)
      .filter(!isnan(col("cosine_sim")))
      .select(col("vec_id").as("doc_id"),
        row_number().over(Window.orderBy(col("cosine_sim").desc, col("vec_id")))
          .cast("long").as("dense_rank"))
    def contrib(rank: org.apache.spark.sql.Column) =
      when(rank.isNull, 0L).otherwise(
        floor(lit(RrfScale.toDouble) / (lit(RrfK).cast("double") + rank.cast("double")))
          .cast("long"))
    lexPool.join(densePool, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        (contrib(col("lex_rank")) + contrib(col("dense_rank"))).as("rrf_q"))
      .orderBy(col("rrf_q").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval SERVED FROM THE INDEXES — the production twin of
    * [[hybridRrf]] (which stays as the exact brute-force anchor): the
    * lexical pool reads the word-posting artifact (shared bm25TopK); the
    * dense pool's CANDIDATES come from the IVF-PQ stack (ivfPqTopK: IVF
    * prunes which cells are read, PQ codes score the coarse pass), then
    * the pool is re-ranked EXACTLY — the WIDENED candidate set
    * ([[RrfRerankWiden]]×N coarse survivors) joins back to the float
    * vectors and ranks by true cosine, keeping the top N, so PQ
    * approximation affects only pool MEMBERSHIP, never the rank fed into
    * RRF. Own oracle (the pool genuinely differs from brute force);
    * OperatorParitySpec pins pool overlap vs the brute pool at the
    * measured floor.
    *
    * Quality postmortem (round 6): the round-5 overlap of 0.56 (N=50,
    * nprobe=4, no widening) was previously attributed to a PQ
    * L2-vs-cosine metric mismatch — WRONG: the table's embeddings are
    * unit-norm (measured min=mean=max=1.0), where squared-L2 ADC order IS
    * cosine order. The actual losses were (a) truncating the coarse pool
    * at N before the exact re-rank — widening to 4N removes this loss
    * completely — and (b) the IVF cell-coverage ceiling itself (0.66 at
    * nprobe=4), a DATA property: near-isotropic synthetic vectors have no
    * cluster structure, so cell recall tracks the corpus fraction read
    * (measured: Lloyd-trained and spherical k-means centroids do NOT beat
    * the deterministic sample here). The gate runs nprobe=12/16 to hit
    * overlap 0.84; production corpora cluster, which is what keeps
    * nprobe/C small at scale — the knob, not the plan, carries the
    * quality/cost trade. */
  def hybridRrfIvf(spark: SparkSession, dir: String, queryTerms: Seq[String],
                   probeId: Long, k: Int, nprobe: Int,
                   numCentroids: Int = Similarity.IvfNumCentroids): DataFrame = {
    val lexPool = bm25TopK(spark, dir, queryTerms, RrfPoolN)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long").as("lex_rank"))
    val e = Tables.embeddings(spark, dir)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"))
    val pool = Similarity.ivfPqTopK(spark, dir, probeId,
        RrfPoolN * RrfRerankWiden, nprobe = nprobe, numCentroids = numCentroids)
      .select(col("vec_id"))
    val densePool = pool.join(e, "vec_id")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(Similarity.cosine(col("embedding"), col("probe_emb")), 4).as("cosine_sim"))
      .filter(!isnan(col("cosine_sim")))
      .select(col("vec_id").as("doc_id"),
        row_number().over(Window.orderBy(col("cosine_sim").desc, col("vec_id")))
          .cast("long").as("dense_rank"))
      .filter(col("dense_rank") <= RrfPoolN)
    def contrib(rank: org.apache.spark.sql.Column) =
      when(rank.isNull, 0L).otherwise(
        floor(lit(RrfScale.toDouble) / (lit(RrfK).cast("double") + rank.cast("double")))
          .cast("long"))
    lexPool.join(densePool, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        (contrib(col("lex_rank")) + contrib(col("dense_rank"))).as("rrf_q"))
      .orderBy(col("rrf_q").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval served from the COMPLETE compressed ladder — the
    * 100 TB production shape of [[hybridRrfIvf]]: the lexical pool still
    * reads the word-posting artifact, but the dense pool comes from
    * `ivf2PqRefineTopK` — two-level probe-cell selection (O(√C)
    * centroid work), a `refine`·N-deep ADC shortlist read DPP-pruned
    * from the cell-partitioned 8-byte codes artifact, re-ranked by int8
    * hot-tier point reads. The float embeddings are touched ONLY for the
    * one-row probe fetch: at 100 TB the dense side of the hybrid never
    * scans a float vector (PlanShapeSpec pins `embedding` out of the
    * dense pool's scans). The refine re-rank plays the role
    * [[hybridRrfIvf]]'s exact re-rank plays — pool membership comes from
    * the coarse pass, the rank fed into RRF comes from the (dequantized)
    * cosine — so PQ approximation costs pool RECALL, never rank skew.
    * nprobe1 = 3 of 4 coarse groups keeps up to 12 fine cells visible,
    * matching the single-level hybrid's nprobe=12/16 coverage ceiling;
    * OperatorParitySpec pins the measured pool-overlap floor vs the
    * brute-force dense pool. Own oracle (the pool genuinely differs). */
  def hybridRrfLadder(spark: SparkSession, dir: String, queryTerms: Seq[String],
                      probeId: Long, k: Int, nprobe: Int, nprobe1: Int,
                      refine: Int = RrfRerankWiden): DataFrame = {
    val lexPool = bm25TopK(spark, dir, queryTerms, RrfPoolN)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long").as("lex_rank"))
    // NaN guard lives inside the refine ladder (zero vectors dequantize
    // to NaN cosine and are dropped there), so the pool arrives clean.
    val densePool = Similarity.ivf2PqRefineTopK(spark, dir, probeId, RrfPoolN,
        nprobe = nprobe, nprobe1 = nprobe1, refine = refine)
      .select(col("vec_id").as("doc_id"),
        row_number().over(Window.orderBy(col("cosine_sim").desc, col("vec_id")))
          .cast("long").as("dense_rank"))
    def contrib(rank: org.apache.spark.sql.Column) =
      when(rank.isNull, 0L).otherwise(
        floor(lit(RrfScale.toDouble) / (lit(RrfK).cast("double") + rank.cast("double")))
          .cast("long"))
    lexPool.join(densePool, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        (contrib(col("lex_rank")) + contrib(col("dense_rank"))).as("rrf_q"))
      .orderBy(col("rrf_q").desc, col("doc_id"))
      .limit(k)
  }

  def hybridRrfLadderOracle(queryTerms: Seq[String], probeId: Long, k: Int,
                            nprobe: Int, nprobe1: Int,
                            refine: Int = RrfRerankWiden): String = {
    val bm25 = TextAnalysis.bm25TopKOracle(queryTerms, RrfPoolN)
    val dense = Similarity.ivf2PqRefineTopKOracle(probeId, RrfPoolN,
      nprobe = nprobe, nprobe1 = nprobe1, refine = refine)
    def contrib(r: String) =
      s"CASE WHEN $r IS NULL THEN 0 ELSE floor($RrfScale.0 / ($RrfK.0 + $r::DOUBLE))::BIGINT END"
    s"""WITH lex AS (SELECT doc_id,
       |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |       FROM ($bm25)),
       |dense AS (SELECT vec_id AS doc_id,
       |         row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS dense_rank
       |       FROM ($dense))
       |SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       |       lex.lex_rank, dense.dense_rank,
       |       ${contrib("lex.lex_rank")} + ${contrib("dense.dense_rank")} AS rrf_q
       |FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
       |ORDER BY rrf_q DESC, coalesce(lex.doc_id, dense.doc_id)
       |LIMIT $k""".stripMargin
  }

  def hybridRrfIvfOracle(queryTerms: Seq[String], probeId: Long, k: Int,
                         nprobe: Int): String = {
    val bm25 = TextAnalysis.bm25TopKOracle(queryTerms, RrfPoolN)
    val pool = Similarity.ivfPqTopKOracle(probeId, RrfPoolN * RrfRerankWiden,
      nprobe = nprobe)
    val cos = Similarity.cosineSql("e.embedding", "p.probe_emb")
    def contrib(r: String) =
      s"CASE WHEN $r IS NULL THEN 0 ELSE floor($RrfScale.0 / ($RrfK.0 + $r::DOUBLE))::BIGINT END"
    s"""WITH lex AS (SELECT doc_id,
       |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |       FROM ($bm25)),
       |pool AS (SELECT vec_id FROM ($pool)),
       |p AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = $probeId),
       |rr AS (SELECT e.vec_id, round($cos, 4) AS cosine_sim
       |       FROM pool JOIN embeddings e USING (vec_id) CROSS JOIN p),
       |dense AS (SELECT doc_id, dense_rank FROM (
       |         SELECT vec_id AS doc_id,
       |           row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS dense_rank
       |         FROM rr WHERE NOT isnan(cosine_sim))
       |       WHERE dense_rank <= $RrfPoolN)
       |SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       |       lex.lex_rank, dense.dense_rank,
       |       ${contrib("lex.lex_rank")} + ${contrib("dense.dense_rank")} AS rrf_q
       |FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
       |ORDER BY rrf_q DESC, coalesce(lex.doc_id, dense.doc_id)
       |LIMIT $k""".stripMargin
  }

  def hybridRrfOracle(queryTerms: Seq[String], probeId: Long, k: Int): String = {
    val bm25 = TextAnalysis.bm25TopKOracle(queryTerms, RrfPoolN)
    val cos = Similarity.cosineTopKOracle(probeId, RrfPoolN)
    def contrib(r: String) =
      s"CASE WHEN $r IS NULL THEN 0 ELSE floor($RrfScale.0 / ($RrfK.0 + $r::DOUBLE))::BIGINT END"
    s"""WITH lex AS (SELECT doc_id,
       |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |       FROM ($bm25)),
       |dense AS (SELECT vec_id AS doc_id,
       |         row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS dense_rank
       |       FROM ($cos) WHERE NOT isnan(cosine_sim))
       |SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       |       lex.lex_rank, dense.dense_rank,
       |       ${contrib("lex.lex_rank")} + ${contrib("dense.dense_rank")} AS rrf_q
       |FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
       |ORDER BY rrf_q DESC, coalesce(lex.doc_id, dense.doc_id)
       |LIMIT $k""".stripMargin
  }

  // ------------------------------------------------- MMR diversified rerank

  /** MMR (Carbonell/Goldstein '98) parameters: rerank the top-[[MmrPool]]
    * cosine pool down to [[MmrR]] results, relevance/diversity balance
    * [[MmrLambda]]. Round-1 has no selected set; its diversity term uses
    * the cosine floor −1, so the first pick is the relevance argmax with
    * score 0.5·rel + 0.5 (documented, same on both engines). */
  val MmrPool = 20
  val MmrR = 5
  val MmrLambda = 0.5

  /** Greedy MMR over the candidate pool, spelled to consume the pool
    * subplan ONCE: the pool and its pairwise cosine relation collapse
    * into single-row arrays, and the [[MmrR]] greedy rounds unroll as
    * pure array expressions over that one row (no per-round re-scan —
    * a relational spelling would replicate the pool derivation 2^R
    * times). Every number is a deterministic fold (cosineDF) or a
    * two-term double product, and every argmax is a lexicographic
    * struct max with the id tiebreak — bit-equal to the oracle's
    * row_number spelling. Scale: the pool is ≤ MmrPool rows by
    * construction (serving pools come from the indexed ANN ladder), so
    * everything after the top-k is broadcast-scale. */
  def mmrRerank(spark: SparkSession, dir: String, probeId: Long): DataFrame = {
    val e = graft.Tables.embeddings(spark, dir)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val pool = e.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.cosineDF(
          col("embedding").cast("array<double>"),
          col("pemb").cast("array<double>")).as("rel"))
      .filter(!isnan(col("rel")))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrPool)
    val sims = pool.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(pool.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        graft.functions.VectorFunctions.cosineDF(
          col("ea").cast("array<double>"), col("eb").cast("array<double>")).as("s"))
    val one = pool.agg(
        sort_array(collect_list(struct(col("vec_id").as("id"), col("rel")))).as("pool"))
      .crossJoin(broadcast(sims.agg(
        sort_array(collect_list(struct(col("ia"), col("ib"), col("s")))).as("sims"))))

    def mmrRound(sel: Column): Column = {
      val selIds = transform(sel, s => s.getField("id"))
      val best = array_max(transform(
        filter(col("pool"), c => !array_contains(selIds, c.getField("id"))),
        c => struct(
          (lit(MmrLambda) * c.getField("rel") - lit(1.0 - MmrLambda) * coalesce(
            array_max(transform(
              filter(col("sims"), p => p.getField("ia") === c.getField("id") &&
                array_contains(selIds, p.getField("ib"))),
              p => p.getField("s"))),
            lit(-1.0))).as("m"),
          (-c.getField("id")).as("negid"))))
      // Exhausted pool (fewer than MmrR candidates): the filtered array
      // is empty, array_max yields NULL — return sel unchanged instead
      // of appending a (null,null) pick the oracle never emits.
      when(best.isNotNull,
        concat(sel, array(struct((-best.getField("negid")).as("id"),
          best.getField("m").as("m"))))).otherwise(sel)
    }

    // The greedy loop as a RUNTIME fold: aggregate() binds the selection
    // accumulator once as a lambda variable, so the plan carries ONE
    // round body regardless of MmrR. (Both a fully inlined spelling and
    // a staged-withColumn chain re-expand to ~4^R expression nodes — the
    // former in the analyzer, the latter when CollapseProject re-inlines
    // the stage columns — and hang plan optimization.)
    val sel = aggregate(
      sequence(lit(1), lit(MmrR)),
      array().cast("array<struct<id:bigint,m:double>>"),
      (acc, _) => mmrRound(acc))
    one.select(posexplode(sel).as(Seq("pos", "pick")))
      .select((col("pos") + 1L).as("rank"),
        col("pick.id").as("vec_id"),
        round(col("pick.m"), 4).as("mmr"))
      .orderBy(col("rank"))
  }

  /** Relational twin in SQL: pool + pairwise sims as MATERIALIZED CTEs,
    * the greedy rounds unrolled as per-round argmax CTEs (row_number
    * over (m DESC, vec_id) — the struct-max tiebreak). DuckDB dedups
    * multi-consumer CTEs, so the spelling the Spark side avoids is the
    * natural one here. */
  def mmrRerankOracle(probeId: Long): String = {
    val cos = Similarity.cosineSql("e.embedding", "p.pemb")
    val cosAb = Similarity.cosineSql("a.embedding", "b.embedding")
    val lam = MmrLambda; val lam1 = 1.0 - MmrLambda
    val rounds = (2 to MmrR).map { k =>
      val p = k - 1
      s"""r$k AS MATERIALIZED (
         |  SELECT q.vec_id, $lam * q.rel - $lam1 * max(s.s) AS m,
         |         row_number() OVER (ORDER BY $lam * q.rel - $lam1 * max(s.s) DESC, q.vec_id) AS rn
         |  FROM pool q JOIN sims s ON s.ia = q.vec_id
         |       AND s.ib IN (SELECT vec_id FROM sel$p)
         |  WHERE q.vec_id NOT IN (SELECT vec_id FROM sel$p)
         |  GROUP BY q.vec_id, q.rel),
         |sel$k AS MATERIALIZED (SELECT vec_id, rank, m FROM sel$p
         |  UNION ALL SELECT vec_id, $k::BIGINT, m FROM r$k WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (SELECT embedding AS pemb FROM embeddings WHERE vec_id = $probeId),
       |pr AS (SELECT e.vec_id, e.embedding, $cos AS rel
       |       FROM embeddings e CROSS JOIN p WHERE e.vec_id <> $probeId),
       |pool AS MATERIALIZED (SELECT vec_id, embedding, rel FROM pr
       |       WHERE NOT isnan(rel)
       |       QUALIFY row_number() OVER (ORDER BY rel DESC, vec_id) <= $MmrPool),
       |sims AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib, $cosAb AS s
       |       FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
       |sel1 AS MATERIALIZED (SELECT vec_id, 1::BIGINT AS rank,
       |         $lam * rel - $lam1 * (-1.0) AS m
       |       FROM pool QUALIFY row_number() OVER (ORDER BY rel DESC, vec_id) = 1),
       |$rounds
       |SELECT rank, vec_id, round(m, 4) AS mmr FROM sel$MmrR ORDER BY rank""".stripMargin
  }
}
