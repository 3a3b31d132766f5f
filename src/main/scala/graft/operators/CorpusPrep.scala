package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end training-corpus preparation pass — the composition the
  * individual operators exist FOR: language gate (n-gram stopword
  * heuristic) → quality gate (length/punct/stopword score) → dedup
  * survivors only (transitive canonicalization). One declarative plan:
  * three narrow per-doc projections equi-joined on doc_id, so Catalyst
  * fuses the gates into the scans and the only wide stages are the dedup
  * pipeline's own (audited in SCALE.md). At 100 TB each gate drops its
  * share of the corpus BEFORE the next join ships rows. */
object CorpusPrep {

  val MinQuality = 0.4

  def corpusPrep(spark: SparkSession, dir: String,
                 minQuality: Double = MinQuality): DataFrame = {
    // Both per-doc gates come from ONE fused projection (shared token
    // array — TextAnalysis.docGates), filtered BEFORE the join so only
    // gate survivors ship into it. Dedup is the single-pass
    // canonicalization (the standard default; dedupPipelineTransitive is
    // the opt-in escalation when chain collapse matters).
    val gates = TextAnalysis.docGates(spark, dir)
      .filter(col("lang_pred") === "en" && col("quality_score") >= minQuality)
    val dedup = Dedup.dedupPipeline(spark, dir)
      .filter(col("is_canonical"))
      .select(col("doc_id"))
    gates.join(dedup, "doc_id")
      .select(col("doc_id"), col("lang_pred"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Eval-doc stride and window width for [[decontaminate]]. Mod 7 keeps
    * the flag NON-VACUOUS on the synthetic corpus (the near-dup families
    * must straddle the eval slice for any contamination to exist: 9
    * flagged docs at sf0.01, 7 at sf0.001 — a sparser eval slice like
    * mod 41 flags zero and the gate would prove nothing). */
  val EvalMod = 7L
  val ContamWin = 8

  /** The distinct token-window set of the eval slice — the benchmark-
    * suite fingerprint the train side is screened against (broadcast-
    * sized by construction: eval suites are tiny next to the corpus). */
  def evalWindowSet(spark: SparkSession, dir: String, evalMod: Long = EvalMod,
                    win: Int = ContamWin): DataFrame =
    evalWindowSetOver(graft.Tables.documents(spark, dir), evalMod, win)

  private[graft] def evalWindowSetOver(docs: DataFrame, evalMod: Long = EvalMod,
                                       win: Int = ContamWin): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(evalMod)) === 0)
      .select(explode(graft.functions.TextFunctions.tokenWindows(
        graft.functions.TextFunctions.tokens(lower(col("text"))), win)).as("w"))
      .distinct()

  /** Per-doc DISTINCT token-window hashes — the row-local posting face
    * of decontamination: window derivation is a pure function of the
    * row's own text, so the relation is appendable (wins(corpus ∪ batch)
    * == wins(corpus) ∪ wins(batch)) and a later corpus-global pass can
    * ask "which standing docs contain these windows" as an artifact
    * probe instead of a full corpus text re-scan. Hashed (xxhash64, the
    * full 64-bit space) rather than the window string, so an equality
    * probe IS window equality at any feasible corpus scale. v1 hashed
    * with polyHash mod 1e9+7 — a ~10^9 space that at the 50k-doc sf1
    * rehearsal collided often enough to falsely "contaminate" 13× more
    * docs than the string-join truth (791 hash-marked vs 58 true; the
    * round-14 diversity-gate catch). Identity-bearing hash joins need
    * the 64-bit space; the mod-1e9 polyHash remains only where the
    * VALUE is the mirrored contract (manifest checksums) or where
    * collisions merely perturb an approximation both sides compute
    * identically (minhash shingles, simhash tokens). */
  private[graft] def docWinRows(docs: DataFrame, win: Int = ContamWin): DataFrame =
    docs.select(col("doc_id"), explode(graft.functions.TextFunctions.tokenWindows(
        graft.functions.TextFunctions.tokens(lower(col("text"))), win)).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("w_hash"))
      .distinct()

  val DocWinsVersion = 2 // v2: xxhash64 window identity (v1: polyHash mod 1e9+7)

  /** The window-posting artifact over an explicit corpus slice (the
    * bands-index pattern: the cadence builds it over the standing split
    * and appends each arriving batch — exact because the derivation is
    * row-local per doc; IncrementalIndexSpec pins append == rebuild). */
  val DocWins: graft.Artifact = graft.Artifact("graft_docwins", DocWinsVersion,
    docWinRows(_), graft.Artifact.Clustered(Seq("w_hash"), Seq("w_hash")))

  /** The screen over explicit train docs + eval window set — the core the
    * gate query runs. A doc's flag depends only on its own windows vs the
    * static eval set, so the screen is exact per micro-batch of a stream
    * (StreamingSpec runs it that way). */
  def decontaminateOver(trainDocs: DataFrame, evalWindows: => DataFrame,
                        win: Int = ContamWin): DataFrame = {
    val wins = trainDocs.select(col("doc_id"), explode(
      graft.functions.TextFunctions.tokenWindows(
        graft.functions.TextFunctions.tokens(lower(col("text"))), win)).as("w"))
    val hits = wins.join(broadcast(evalWindows), "w")
      .select(col("doc_id")).distinct()
    trainDocs
      .join(hits.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Eval-set decontamination — the training-pipeline step the dedup
    * family does NOT cover: mark every TRAIN document that shares any
    * `win`-token window with any EVAL document (here the deterministic
    * `doc_id % evalMod == 0` slice stands in for a benchmark suite). The
    * standard n-gram-overlap decontamination of LLM training corpora:
    * token windows explode on both sides and overlap is an equi-join on
    * the window key — at 100 TB the eval side is a benchmark suite
    * (thousands of docs, millions of windows), so its distinct windows
    * BROADCAST and candidate marking is a map-side semi-join; no train-
    * side self-join ever happens. Output keeps every train doc with its
    * flag (the downstream cut is one `filter`), ordered for the gate. */
  def decontaminate(spark: SparkSession, dir: String, evalMod: Long = EvalMod,
                    win: Int = ContamWin): DataFrame =
    decontaminateOver(
      graft.Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(evalMod)) =!= 0),
      evalWindowSet(spark, dir, evalMod, win), win)

  /** Per-doc contamination FRACTION — the graded face of the boolean
    * screen (the GPT-3 appendix-C practice: report how dirty a document
    * is, not just whether; the downstream cut point is then a policy
    * knob, e.g. drop >50%, flag >0%). For each train doc: the share of
    * its token windows present in the eval window set, as an exact
    * per-mille integer (windows are counted WITH multiplicity — a doc
    * that repeats a leaked phrase is dirtier than one that uses it once).
    * Same plan spine as [[decontaminateOver]]: windows explode once, the
    * eval set broadcasts, one doc_id exchange for the count rollup —
    * docs with fewer tokens than the window width have 0 windows and
    * report 0. */
  def contaminationFracOver(trainDocs: DataFrame, evalWindows: => DataFrame,
                            win: Int = ContamWin): DataFrame = {
    val wins = trainDocs.select(col("doc_id"), explode(
      graft.functions.TextFunctions.tokenWindows(
        graft.functions.TextFunctions.tokens(lower(col("text"))), win)).as("w"))
    val counts = wins
      .join(broadcast(evalWindows.withColumn("hit", lit(1L))), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("hit"), lit(0L))).as("n_dirty"))
    trainDocs.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dirty"), lit(0L)).as("n_dirty"),
        // CEILING division: one leaked window in a >1000-window doc must
        // still read as dirty (floor would report 0‰ and break the
        // permille>0 ⟺ contaminated equivalence the spec pins)
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          expr("(n_dirty * 1000 + n_windows - 1) div n_windows"))
          .otherwise(lit(0L))
          .as("dirty_permille"))
      .orderBy(col("doc_id"))
  }

  def contaminationFrac(spark: SparkSession, dir: String,
                        evalMod: Long = EvalMod, win: Int = ContamWin): DataFrame =
    contaminationFracOver(
      graft.Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(evalMod)) =!= 0),
      evalWindowSet(spark, dir, evalMod, win), win)

  def contaminationFracOracle(evalMod: Long = EvalMod, win: Int = ContamWin): String = {
    val toks = graft.oracle.OracleSql.tokens("lower(text)")
    s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |w AS (SELECT doc_id,
       |             unnest(${graft.oracle.OracleSql.tokenWindows("tk", win)}) AS w
       |      FROM tok),
       |ew AS (SELECT DISTINCT w FROM w WHERE doc_id % $evalMod = 0),
       |cnt AS (SELECT w.doc_id, count(*) AS n_windows,
       |               sum(CASE WHEN ew.w IS NOT NULL THEN 1 ELSE 0 END) AS n_dirty
       |        FROM w LEFT JOIN ew ON w.w = ew.w
       |        WHERE w.doc_id % $evalMod <> 0 GROUP BY w.doc_id)
       |SELECT d.doc_id, coalesce(c.n_windows, 0)::BIGINT AS n_windows,
       |       coalesce(c.n_dirty, 0)::BIGINT AS n_dirty,
       |       (CASE WHEN coalesce(c.n_windows, 0) > 0
       |             THEN (c.n_dirty * 1000 + c.n_windows - 1) // c.n_windows
       |             ELSE 0 END)::BIGINT AS dirty_permille
       |FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
       |WHERE d.doc_id % $evalMod <> 0
       |ORDER BY d.doc_id""".stripMargin
  }

  def decontaminateOracle(evalMod: Long = EvalMod, win: Int = ContamWin): String = {
    val toks = graft.oracle.OracleSql.tokens("lower(text)")
    s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |w AS (SELECT doc_id,
       |             unnest(${graft.oracle.OracleSql.tokenWindows("tk", win)}) AS w
       |      FROM tok),
       |ew AS (SELECT DISTINCT w FROM w WHERE doc_id % $evalMod = 0),
       |hits AS (SELECT DISTINCT w.doc_id
       |         FROM w JOIN ew USING (w) WHERE w.doc_id % $evalMod <> 0)
       |SELECT d.doc_id, d.source, d.lang,
       |       (h.doc_id IS NOT NULL) AS contaminated
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.doc_id % $evalMod <> 0
       |ORDER BY d.doc_id""".stripMargin
  }

  def corpusPrepOracle(minQuality: Double = MinQuality): String =
    s"""SELECT l.doc_id, l.lang_pred, q.quality_score
       |FROM (${TextAnalysis.languageIdOracle}) l
       |JOIN (${TextAnalysis.qualityScoreOracle}) q ON l.doc_id = q.doc_id
       |JOIN (${Dedup.dedupPipelineOracle}) d ON l.doc_id = d.doc_id
       |WHERE l.lang_pred = 'en' AND q.quality_score >= $minQuality AND d.is_canonical
       |ORDER BY l.doc_id""".stripMargin

  /** Relative quality cut: keep documents at or above the corpus MEDIAN
    * quality — the data-dependent sibling of corpusPrep's fixed threshold
    * (corpus gates in practice are percentile-anchored: "drop the worst
    * half/decile", robust to corpus drift where a constant is not). The
    * median is an exact sort-based percentile evaluated ONCE as a scalar
    * subquery; the filter then streams. At 100 TB the exact percentile
    * becomes `approx_percentile` (one pass, mergeable sketch) with an
    * identical plan shape; exact is used here because the gate demands
    * bit-equality. */
  def qualityCut(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val med = q.agg(
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY quality_score)").as("m"))
    q.filter(col("quality_score") >= med.scalar())
      .orderBy(col("doc_id"))
  }

  val qualityCutOracle: String =
    s"""WITH q AS (SELECT doc_id, quality_score
       |           FROM (${TextAnalysis.qualityScoreOracle})),
       |m AS (SELECT quantile_cont(quality_score, 0.5) AS m FROM q)
       |SELECT doc_id, quality_score
       |FROM q, m WHERE quality_score >= m.m
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- per-source observability

  /** Quantization scale for the cross-row quality mean (a parallel float
    * sum is order-nondeterministic; floor-quantized longs are exact). */
  val StatsQuant = 1000000L

  /** Per-source pipeline observability — the monitoring rollup every
    * production corpus pipeline publishes per ingest source: volume
    * (docs, tokens), language mix (en share under the gate's own
    * language-ID), dedup health (canonical share under the pipeline
    * labels), eval contamination count, and mean quality. ONE plan
    * composing four existing per-doc projections by equi-join on doc_id,
    * then a single hash aggregate on the source key (bounded cardinality
    * — sources are feeds, not data). Cross-row quality mean is summed as
    * floor-quantized longs and divided ONCE (bit-exact; the
    * KMeans.QuantScale technique). Eval-slice docs carry
    * contaminated=false (the screen only applies to train docs). */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    statsRollup(docMeta(spark, dir))

  /** The per-doc label relation every pipeline stage contributes to —
    * doc_id, source, lang_pred, quantized quality, token count, dedup
    * canonicality, contamination flag. This IS the cleaned corpus's
    * metadata table: at 100 TB it persists next to the corpus (the
    * docbase + docglobal artifact pair below) and observability
    * aggregates READ it instead of re-running language-ID + dedup +
    * decontamination per refresh. Inline (anchor) face: the full
    * derivation in one plan — the oracle's semantics. */
  private[graft] def docMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(spark, dir)
    docBaseOver(spark, d,
        LmQuality.ensureModel(spark, dir))
      .join(docGlobalOver(spark, dir), "doc_id")
      .select(docMetaColumns: _*)
  }

  /** The v4 label schema's column order — shared by the inline face and
    * the served base⋈overlay join so the two can never drift. */
  private val docMetaColumns = Seq(
    col("doc_id"), col("source"), col("lang_pred"),
    col("quality_score"), col("q_q"),
    col("n_tok"), col("n_pieces"), col("content_hash"), col("is_canonical"),
    col("contaminated"), col("lm_score"))

  /** The ROW-LOCAL half of the label table over an explicit document
    * relation: language/quality gates, token + BPE-piece counts, content
    * hash, and the trained-LM fluency score against the FROZEN served
    * model — every column depends only on the row's own text (the LM
    * score on text + a static artifact), which is what licenses the
    * append face: labeling corpus ∪ batch == labels(corpus) ∪
    * labels(batch). Left join for the LM score: a doc under two tokens
    * has no bigrams and no score — carried as 0.0 (below any real
    * median, the conservative cut). */
  private[graft] def docBaseOver(spark: SparkSession, d: DataFrame,
                                 modelPath: String): DataFrame =
    docBaseOverModel(d, graft.Tables.parquet(spark, modelPath))

  /** The same labeling over an explicit model RELATION — what the
    * streaming ingest face passes by name so a version-bumped retrain is
    * visible on the next micro-batch. */
  private[graft] def docBaseOverModel(d: DataFrame, model: DataFrame): DataFrame = {
    val gates = TextAnalysis.docGatesOver(d)
      .select(col("doc_id"), col("lang_pred"), col("quality_score"),
        floor(col("quality_score") * StatsQuant.toDouble).cast("long").as("q_q"))
    val toks = d.select(col("doc_id"),
      size(graft.functions.TextFunctions.tokens(lower(col("text")))).cast("long").as("n_tok"),
      size(regexp_extract_all(lower(col("text")),
        lit(TextAnalysis.BpePattern), lit(0))).cast("long").as("n_pieces"),
      graft.functions.TextFunctions.polyHash(col("text")).as("content_hash"),
      // the exact ingest screen's probe key (v3): xxhash64 of the raw
      // text, so hash equality IS text equality at feasible scale.
      // Distinct from content_hash, whose mod-1e9 polyHash VALUE is the
      // mirrored manifest-checksum contract and must stay as-is.
      xxhash64(col("text")).as("screen_hash"),
      // the dedup pipeline's exact-canon grouping key, hashed (v3 —
      // xxhash64): lets the delta overlay refresh find an arrival's
      // exact-dup group from the label artifact alone, no corpus text
      // re-scan, and agree with the full pipeline's norm-STRING groups
      // collision-free
      normHashCol.as("norm_hash"))
    val lm = LmQuality.scoreAgainstModel(d, model)
      .select(col("doc_id"), col("lm_score"))
    d.select(col("doc_id"), col("source"))
      .join(gates, "doc_id").join(toks, "doc_id")
      .join(lm, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang_pred"),
        col("quality_score"), col("q_q"),
        col("n_tok"), col("n_pieces"), col("content_hash"),
        col("screen_hash"), col("norm_hash"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
  }

  /** The CORPUS-GLOBAL overlay derivation: dedup canonicality (a new
    * batch can demote an old doc's canonicality — min-id-wins over the
    * whole corpus) and eval-set contamination (a new batch can add eval
    * docs whose n-grams contaminate OLD train docs). Three narrow
    * columns per doc. */
  private[graft] def docGlobalOver(spark: SparkSession, dir: String): DataFrame =
    docGlobalOverDocs(graft.Tables.documents(spark, dir))

  /** The same overlay over an explicit document relation — the delta
    * refresh's inline anchor computes the PRIOR overlay (standing corpus
    * only) through this face. */
  private[graft] def docGlobalOverDocs(docs: DataFrame, evalMod: Long = EvalMod,
                                       win: Int = ContamWin): DataFrame =
    Dedup.dedupPipelineOver(docs)
      .select(col("doc_id"), col("is_canonical"))
      .join(decontaminateOver(
          docs.filter(pmod(col("doc_id"), lit(evalMod)) =!= 0),
          evalWindowSetOver(docs, evalMod, win), win)
        .select(col("doc_id"), col("contaminated")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_canonical"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))

  /** The per-doc label table, SPLIT (round 11 — the e2e label pass is
    * the pipeline's one full raw-text scan, 159 s at the 500k replica,
    * and v4's single write-once artifact forced a 10% ingest increment
    * to re-scan 100% of the text):
    *
    *  - `graft_docbase` — the row-local columns (language, quality,
    *    token/piece counts, content hash, LM score vs the frozen model).
    *    APPENDABLE: an increment labels only its own text
    *    (IncrementalIndexSpec pins append == rebuild). An LM RETRAIN is
    *    a version bump (the IVF frozen-codebook lifecycle).
    *  - `graft_docglobal` — the corpus-global overlay (is_canonical,
    *    contaminated). NO append face: both labels can flip on OLD docs
    *    when a batch arrives, so an increment is staleness and ensure
    *    re-labels. Its rebuild cost is dedup/decontamination-bound (LSH
    *    banding + the n-gram screen), NOT per-doc-label-bound — on the
    *    clone-heavy replica it is actually the LARGER wall (worst-case
    *    band buckets; SCALE.md §build-rehearsal) — but it is the half
    *    whose cost does not multiply with per-doc text work, and the
    *    half dedup_incremental's bloom screen approximates when exact
    *    relabeling can wait for a compaction window.
    *
    * Consumers read the JOIN ([[docMetaIndexed]]); the e2e chain keys
    * its first stage on BOTH artifact paths so transitive staleness
    * still flows from either half. */
  val DocBaseVersion = 3 // v3: xxhash64 screen_hash/norm_hash (v2: polyHash norm_hash)
  val DocGlobalVersion = 3 // v3: xxhash64 delta identity joins (contaminated/is_canonical
                           //     embed w_hash/norm_hash decisions); v2: splitmix minhash seeds

  /** The docbase artifact's identity, layout and compaction fold: built
    * and appended as the labeling writes it, compacted into 32
    * doc_id-clustered files. Its derivation scores against the LM model,
    * so it derives only through [[docBase]]. */
  val DocBase: graft.Artifact = graft.Artifact("graft_docbase", DocBaseVersion,
    _ => throw new IllegalStateException(
      "graft_docbase derives against the frozen LM model: use CorpusPrep.docBase"),
    graft.Artifact.Plain,
    _.repartition(32, col("doc_id")).sortWithinPartitions(col("doc_id")))

  /** [[DocBase]] deriving against `dir`'s LM model (ensured here). An
    * append labels only the batch's own text, scored with the standing
    * frozen model — never a retrain mid-append. */
  def docBase(spark: SparkSession, dir: String): graft.Artifact = {
    val model = LmQuality.ensureModel(spark, dir)
    DocBase.copy(derive = docBaseOver(spark, _, model))
  }

  def ensureDocGlobal(spark: SparkSession, dir: String,
                      version: Int = DocGlobalVersion): String =
    graft.Materialize.ensure(spark, "graft_docglobal", dir, version) { p =>
      docGlobalOver(spark, dir).write.mode("overwrite").parquet(p)
    }

  /** The SERVED label relation — row-local base ⋈ corpus-global overlay
    * on doc_id, in the v4 column order. At 100 TB both halves co-bucket
    * by doc_id so the join is shuffle-free; here it is one narrow
    * equi-join of two artifact scans. */
  private[graft] def docMetaIndexed(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.parquet(spark, graft.Materialize.ensure(spark, docBase(spark, dir), dir,
        graft.Tables.documents(spark, dir)))
      .join(graft.Tables.parquet(spark, ensureDocGlobal(spark, dir)), "doc_id")
      .select(docMetaColumns: _*)

  /** The rollup both stats faces share: one hash aggregate on the source
    * key (bounded cardinality — sources are feeds, not data). */
  private def statsRollup(meta: DataFrame): DataFrame =
    meta.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_canonical"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("q_q")).as("sum_q"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_en"),
        col("n_canonical"), col("n_contaminated"),
        (col("sum_q").cast("double") / (col("n_docs").cast("double") * StatsQuant.toDouble))
          .as("mean_quality"))
      .orderBy(col("source"))

  /** The serving twin of [[corpusStats]]: IDENTICAL output (one oracle
    * gates both) rolled up from the MATERIALIZED metadata table — a
    * dashboard refresh reads ~7 narrow columns/doc, it does not re-run
    * the cleaning pipeline. */
  def corpusStatsIndexed(spark: SparkSession, dir: String): DataFrame =
    statsRollup(docMetaIndexed(spark, dir))

  /** The serving twin of [[corpusPrep]] — the pipeline GATE itself read
    * from the label table: prep output is by definition a filter over
    * per-doc labels the pipeline already computed, so serving it is one
    * narrow artifact scan + a streaming filter (no language-ID, no dedup
    * self-joins, no decontamination join per call). IDENTICAL output
    * (raw quality_score column, not its quantized twin); one oracle
    * gates both. */
  def corpusPrepIndexed(spark: SparkSession, dir: String,
                        minQuality: Double = MinQuality): DataFrame =
    docMetaIndexed(spark, dir)
      .filter(col("lang_pred") === "en" && col("quality_score") >= minQuality &&
        col("is_canonical"))
      .select(col("doc_id"), col("lang_pred"), col("quality_score"))
      .orderBy(col("doc_id"))

  // --------------- deferred-overlay ingest cadence (the increment face)

  // The production ingest cadence over the split label table, as a
  // first-class surface (round 12 — previously SCALE.md prose):
  //
  //  1. **Per batch** ([[ingestIncrement]]): append the batch's
  //     row-local labels to `graft_docbase` (the batch's own text is the
  //     only text read — batch-sized, not corpus-sized), screen the
  //     arrivals against the STANDING corpus artifacts (exact dup via
  //     the docbase content-hash column; near-dup via the materialized
  //     LSH band artifact — never a corpus self-join), and admit the
  //     batch's band rows so the NEXT increment screens against
  //     corpus ∪ batch. The corpus-global overlay (`graft_docglobal`) is
  //     deliberately NOT touched: its labels can flip on OLD docs, so an
  //     exact refresh is a full dedup/decontamination pass — the screens
  //     are its bounded per-batch approximation.
  //  2. **Per compaction window** ([[compactionRefresh]]): drop and
  //     re-ensure the overlay — the exact corpus-global pass over
  //     everything ingested since the last window. Downstream chain
  //     stages (graft_e2e*) go stale transitively through their artifact
  //     manifests and rebuild on next ensure; IngestCadenceSpec pins the
  //     refreshed chain output EQUAL to a from-scratch rebuild under the
  //     standing frozen LM model.
  //
  // During the deferral window the served corpus view (docMetaIndexed,
  // the e2e chain) is STABLE: arrivals have base labels but no overlay
  // row yet, so the inner join excludes them until the refresh admits
  // them with exact canonicality/contamination — a new batch can never
  // half-enter the corpus with guessed global labels.

  /** Screen core over explicit relations — shared by the gate row (inline
    * anchor derivations) and [[ingestIncrement]] (artifact reads). Exact
    * screen: the batch's raw-text xxhash64 probed against the standing
    * content hashes — the standing side is scanned once under a broadcast
    * of the batch-sized probe, never shuffled. Near screen: the bloom-
    * pruned LSH band probe ([[Dedup.incrementalNearDupsOver]]).
    * `provisional_admit` is the cadence's per-batch verdict: admit unless
    * either screen fired. */
  private[graft] def ingestScreenOver(batchDocs: DataFrame,
      standingHashes: DataFrame, standingBands: => DataFrame): DataFrame = {
    val near = Dedup.incrementalNearDupsOver(batchDocs, standingBands)
    val batchHashes = batchDocs.select(col("doc_id"),
      xxhash64(col("text")).as("h"))
    val hashMatches = standingHashes
      .select(col("screen_hash").as("h"), col("doc_id").as("sid"))
      .join(broadcast(batchHashes.select(col("doc_id"), col("h"))), "h")
      .groupBy(col("doc_id")).agg(min(col("sid")).as("exact_dup_of"))
    near.join(hashMatches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("exact_dup_of").isNotNull.as("is_exact_dup"),
        col("is_dup").as("is_near_dup"),
        col("n_partners"), col("dup_of"), col("exact_dup_of"),
        (col("exact_dup_of").isNull && !col("is_dup")).as("provisional_admit"))
      .orderBy(col("doc_id"))
  }

  /** Gate face over the fixed deterministic split (docs with
    * doc_id % 10 == 7 are the arriving batch — the dedup_incremental
    * convention): both screens composed inline, brute-force SQL oracle. */
  def ingestScreen(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(spark, dir)
    val batch = d.filter(col("doc_id") % Dedup.IncMod === Dedup.IncRem)
      .select(col("doc_id"), col("text"))
    val standing = d.filter(col("doc_id") % Dedup.IncMod =!= Dedup.IncRem)
      .select(col("doc_id"), col("text"))
    ingestScreenOver(batch,
      standing.select(col("doc_id"),
        xxhash64(col("text")).as("screen_hash")),
      Dedup.bandRows(standing))
  }

  /** One production ingest increment (cadence step 1). Requires the
    * standing corpus bootstrapped ([[DocBase]] built — refused before
    * any chain starts otherwise); call once per arriving batch. Returns
    * the screen verdicts; the overlay stays deferred until
    * [[compactionRefresh]]. The screens read the standing side after the
    * appends admit the batch and anti-join the batch's own ids out of
    * it. An at-least-once caller (the
    * streaming cadence face) passes `batchTag`: the three artifact
    * appends route through `Materialize.appendBatch`, so a REPLAYED
    * batch converges to one copy of its rows and the recomputed verdicts
    * are exact (the screens' anti-joins make them replay-pure). */
  def ingestIncrement(spark: SparkSession, dir: String,
                      batch: DataFrame,
                      batchTag: Option[String] = None): DataFrame = {
    require(graft.Materialize.isBuilt(spark, DocBase.kind, dir, DocBase.version),
      s"ingest into $dir: no docbase — build it with ensure() first")
    val batchDocs = batch.select(col("doc_id"), col("text"))
    val batchIds = batchDocs.select(col("doc_id"))
    // The three artifact maintenances (docbase labels, band index, window
    // postings) each derive from the batch text alone and land in their
    // own artifact (per-artifact lock; appendBatch stages whole files and
    // renames them in) — three independent chains, so they run as
    // CONCURRENT job submissions and their fixed per-job costs overlap
    // instead of summing; the cadence pays this wall once per arriving
    // batch (r16, guide §5). Ordering is safe across chains because an
    // ADDED documents file does not stale a manifest (staleness is
    // modified/removed recorded inputs only) and each chain keeps its own
    // ensure-then-append order.
    val fDocBase = scala.concurrent.Future(
      graft.Materialize.append(spark, docBase(spark, dir), dir, batch, batchTag))(
      ingestChainPool)
    // window-posting chain (row-local, same ensure-over-standing +
    // append-batch lifecycle as the bands): the deferred overlay's delta
    // refresh probes it for contamination
    val fDocWins = scala.concurrent.Future {
      graft.Materialize.ensure(spark, DocWins, dir, graft.Tables.documents(spark, dir)
        .join(batchIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text")))
      graft.Materialize.append(spark, DocWins, dir, batchDocs, batchTag)
    }(ingestChainPool)
    // Each screen side is read from the path its append RETURNED: a
    // replayed tag's repair deletes the crashed attempt's files, so a
    // listing taken before the append settles could plan over files that
    // no longer exist. The batch's own rows are anti-joined out.
    val bandsPath =
      try {
        graft.Materialize.ensure(spark, Dedup.BandIndex, dir,
          graft.Tables.documents(spark, dir)
            .join(batchIds, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("text")))
        graft.Materialize.append(spark, Dedup.BandIndex, dir, batchDocs, batchTag)
      } finally {
        // a failed caller-thread chain still waits out the other two, so
        // no job of this increment is running when its exception surfaces
        Seq(fDocBase, fDocWins).foreach(
          scala.concurrent.Await.ready(_, scala.concurrent.duration.Duration.Inf))
      }
    val docBasePath = scala.concurrent.Await.result(fDocBase,
      scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(fDocWins,
      scala.concurrent.duration.Duration.Inf)
    val standingHashes = graft.Tables.parquet(spark, docBasePath)
      .join(batchIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("screen_hash"))
    val standingBands = graft.Tables.parquet(spark, bandsPath)
      .join(batchIds, Seq("doc_id"), "left_anti")
    ingestScreenOver(batchDocs, standingHashes, standingBands)
  }

  /** Bootstrap the standing-corpus artifacts concurrently: docbase (row
    * -local labels) and docglobal (dedup canonicality + contamination)
    * are independent derivations of the same documents relation landing
    * in separate artifacts, so their ensure builds overlap instead of
    * summing (r16, guide §5 — the [[ingestIncrement]] chain argument
    * applied to the cadence's step-0). Both ensures are idempotent
    * file-checks when already built. */
  def bootstrapStanding(spark: SparkSession, dir: String): Unit = {
    val fBase = scala.concurrent.Future(
      graft.Materialize.ensure(spark, docBase(spark, dir), dir,
        graft.Tables.documents(spark, dir)))(ingestChainPool)
    ensureDocGlobal(spark, dir)
    scala.concurrent.Await.result(fBase,
      scala.concurrent.duration.Duration.Inf)
    ()
  }

  /** Two daemon threads for [[ingestIncrement]]'s concurrent artifact
    * chains (the third chain runs on the caller's thread). Job
    * submission from multiple threads against one SparkSession is the
    * supported concurrency face (the FAIR serving pools precedent). */
  private lazy val ingestChainPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(2,
        (r: Runnable) => {
          val t = new Thread(r, "graft-ingest-chain")
          t.setDaemon(true)
          t
        }))

  /** Compaction-window refresh (cadence step 2): pay the exact
    * corpus-global pass. The rebuilt overlay's artifact files change, so
    * every downstream chain stage keyed on it goes stale transitively and
    * rebuilds on its next ensure. */
  def compactionRefresh(spark: SparkSession, dir: String): String = {
    graft.Materialize.invalidate(spark, "graft_docglobal", dir, DocGlobalVersion)
    ensureDocGlobal(spark, dir)
  }

  /** Compaction-window refresh, DELTA face — same post-state contract as
    * [[compactionRefresh]] (the refreshed overlay equals a from-scratch
    * overlay of the current corpus, and downstream chain stages go stale
    * transitively because the artifact files changed) at a cost
    * proportional to the ARRIVALS' cluster footprint instead of the
    * corpus: [[deltaOverlayOver]] over the artifacts the per-batch
    * cadence already maintains (docbase v3 norm hashes, the band index,
    * the window postings) plus the prior overlay generation, swapped in
    * place. Precondition is the cadence's own — [[ingestIncrement]] ran
    * for every arrived batch (checked loudly: a docbase that has not
    * labeled every current doc means a batch skipped the cadence, and a
    * silent delta over it would miss those arrivals). */
  def deltaOverlayRefresh(spark: SparkSession, dir: String): String =
    deltaOverlayRefreshImpl(spark, dir, checkCoverage = true)

  /** `checkCoverage = false` is for [[compactionRefreshAuto]] only: the
    * dispatcher has JUST run the identical docbase-covers-every-doc
    * require as part of deriving its arrival count, and the duplicate
    * distinct-count job is a corpus-sized read paid per compaction window
    * for nothing. The direct face keeps the check — it is the loud guard
    * against a batch that skipped the cadence. */
  private def deltaOverlayRefreshImpl(spark: SparkSession, dir: String,
                                      checkCoverage: Boolean): String = {
    val docs = graft.Tables.documents(spark, dir)
    val normHashes = graft.Tables.parquet(spark,
        graft.Materialize.ensure(spark, docBase(spark, dir), dir, docs))
      .select(col("doc_id"), col("norm_hash"))
    if (checkCoverage)
      require(normHashes.select(col("doc_id")).distinct().count() == docs.count(),
        s"delta overlay refresh of $dir: docbase has not labeled every " +
          "current doc — run ingestIncrement for each arrived batch first")
    val bands = graft.Tables.parquet(spark,
      graft.Materialize.ensure(spark, Dedup.BandIndex, dir, docs))
    val wins = graft.Tables.parquet(spark, graft.Materialize.ensure(spark, DocWins, dir, docs))
    graft.Materialize.refreshWith(spark, "graft_docglobal", dir,
        DocGlobalVersion) { (prior, tmp) =>
      deltaOverlayOver(normHashes, bands, wins, prior)
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Compaction-window refresh, DISPATCHED — the cadence's step-2 face a
    * production caller uses without knowing their rebuild wall (the
    * round-11 critique of the opt-in two-level IVF build, applied to the
    * refresh faces round 12 introduced: a delta that must be hand-picked
    * is a scale knob someone forgets). Counts the standing corpus and the
    * arrivals from the artifacts the cadence already maintains — one
    * docbase distinct-id count (which doubles as the cadence coverage
    * guard) minus a footer-only count-star of the prior overlay — picks
    * by [[graft.Materialize.refreshPlan]], and
    * returns the refreshed path plus the decision taken (the
    * `ensureIvfIndexAuto` return convention). A corpus with no committed
    * overlay yet bootstraps through plain ensure. Measured anchors for
    * this family: gate rebuild 1.3 s vs delta 3.6 s; 10× 16.3 s vs
    * 5.9–8.2 s; 100× 154.1 s vs 36.0/20.0 s (SCALE.md §round-12). */
  def compactionRefreshAuto(spark: SparkSession, dir: String,
                            floorDocs: Long = graft.Materialize.RefreshDeltaFloor,
                            majority: Double = graft.Materialize.RefreshArrivalMajority): (String, String) = {
    if (!graft.Materialize.isBuilt(spark, "graft_docglobal", dir, DocGlobalVersion))
      return (ensureDocGlobal(spark, dir), "bootstrap")
    // a re-published corpus input invalidates the prior rows as a delta
    // base (refreshWith rejects them); route straight to the exact rebuild
    if (!graft.Materialize.isDeltaBase(spark, "graft_docglobal", dir, DocGlobalVersion))
      return (compactionRefresh(spark, dir), "rebuild")
    val n = graft.Tables.parquet(spark, graft.Materialize.ensure(spark, docBase(spark, dir), dir,
        graft.Tables.documents(spark, dir)))
      .select(col("doc_id")).distinct().count()
    // the delta's own cadence precondition, checked HERE (and only here —
    // the delta arm below skips its duplicate): a batch that reached the
    // corpus dir without ingestIncrement is in neither docbase nor the
    // overlay, so the arrival count below cannot see it — without this
    // check the dispatcher would return "ensure" as success while the
    // served overlay permanently excludes those docs
    require(n == graft.Tables.documents(spark, dir).count(),
      s"compactionRefreshAuto of $dir: docbase has not labeled every " +
        "current doc — run ingestIncrement for each arrived batch first")
    // arrivals = docs the overlay has not labeled. The isDeltaBase gate
    // above makes count ARITHMETIC exact here, no anti-join needed: a
    // fresh manifest means no recorded corpus child was modified or
    // removed, so the overlay's ids (one row per doc it covered, by
    // construction of docGlobalOver) are a SUBSET of the current ids and
    // the uncovered count is just the difference. The overlay side is a
    // count-star over parquet footers — no doc_id scan, no join. Residual
    // caveat shared with the manifest itself: an edit that preserves a
    // child's mtime is invisible (then re-path the dir or bump the
    // version) — the previous anti-join spelling was equally blind to it.
    val covered = graft.Tables.parquet(spark,
        graft.Materialize.servingPath(spark, "graft_docglobal", dir, DocGlobalVersion))
      .count()
    // The arithmetic's subset premise can be violated from OUTSIDE the
    // cadence contract: a replayed UNTAGGED ingestIncrement (plain append,
    // no batch marker) lands duplicate docbase/overlay rows — the distinct
    // coverage guard above still passes, but the overlay count-star
    // overcounts and arrivals would silently undercount (the dispatcher
    // could return "ensure" while real arrivals stay unlabeled). Fail
    // loudly instead of serving a wrong decision.
    require(covered <= n,
      s"compactionRefreshAuto of $dir: overlay has $covered rows for $n " +
        "distinct docs — duplicated overlay rows (replayed un-tagged " +
        "append?); run compactionRefresh to rebuild the overlay")
    val arrivals = n - covered
    graft.Materialize.refreshPlan(n, arrivals, floorDocs, majority) match {
      case "ensure"  => (ensureDocGlobal(spark, dir), "ensure")
      case "rebuild" => (compactionRefresh(spark, dir), "rebuild")
      case _         => (deltaOverlayRefreshImpl(spark, dir, checkCoverage = false), "delta")
    }
  }

  /** The cadence's compaction CLOCK, dispatched — [[compactionRefreshAuto]]
    * handles the overlay's content refresh; this face handles the FILE
    * debt of the three appended artifacts the per-batch step maintains
    * (docbase labels, band index, window postings). Every micro-batch
    * lands one batch-file set in each, and reads pay a per-pending-batch
    * tax (listing + footers + diluted clustering — the measured curve in
    * SCALE.md §compact-cadence) while the fold is one artifact-sized
    * rewrite, so each artifact folds independently once ITS committed
    * pending count reaches the budget (`Materialize.compactPlan`). Run at
    * the same quiesced window as the overlay refresh — the fold swaps
    * files in place, same single-driver caveat as compact. Returns
    * artifact kind → decision ("compact" | "defer"). */
  def compactCadenceIfDue(spark: SparkSession, dir: String,
                          maxPending: Long = graft.Materialize.CompactPendingMax): Map[String, String] = {
    val owned = Seq(DocBase, Dedup.BandIndex, DocWins)
    val decisions = owned.map(a =>
      a.kind -> graft.Materialize.compactIfDue(spark, a, dir, maxPending)._2).toMap
    // retention sweep at the same quiesced window: superseded generations
    // (version-bump leftovers) and crash staging debris of the artifacts
    // this cadence owns — the fold already required the quiesced window,
    // so GC here costs one listing per kind and no extra coordination
    (owned.map(a => a.kind -> a.version) :+ ("graft_docglobal" -> DocGlobalVersion))
      .foreach { case (k, v) => graft.Materialize.gc(spark, k, dir, v) }
    decisions
  }

  /** The dedup pipeline's exact-canon grouping key, hashed (docbase v3's
    * norm_hash column — shared so the label artifact and the inline delta
    * anchor can never drift). xxhash64 so the delta's hash-keyed groups
    * equal the full pipeline's norm-STRING groups collision-free (the
    * mod-1e9 polyHash space expects a false merge per ~50k² pairs —
    * the round-14 w_hash catch, one rung over). */
  private[graft] def normHashCol: org.apache.spark.sql.Column =
    xxhash64(array_join(graft.functions.TextFunctions.tokens(
      graft.functions.TextFunctions.cleanEntity(col("text"))), " "))

  private[graft] def normHashRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), normHashCol.as("norm_hash"))

  /** DELTA overlay refresh core — recompute the corpus-global labels for
    * ONLY the docs an arrival can affect, carrying every other row of the
    * prior overlay unchanged, from ARTIFACT-SHAPED inputs alone (no
    * corpus text re-scan):
    *
    *  - `normHashes` (doc_id, norm_hash)              — docbase v3 columns
    *  - `fullBands`  (doc_id, sig, band_idx, band_hash) — the band artifact
    *  - `docWins`    (doc_id, w_hash)                  — the window postings
    *  - `priorOverlay` (doc_id, is_canonical, contaminated) — the deferred
    *    overlay as last refreshed; arrivals are exactly the docs it has
    *    never labeled (left_anti), so the caller tracks nothing.
    *
    * Affectedness is EXACT for the single-pass pipeline's semantics:
    * a standing doc's canonical_id can change only if an arrival joins
    * its exact-norm group (norm_hash equality — the 64-bit hash contract)
    * or its near-dup neighborhood (shares a band bucket with est ≥ τ:
    * covers gmin demotion — same sig ⇒ est 1 — and every partner-group
    * epm change, since a partner's arrival shares the partner's band keys
    * and its sig agreement with the standing group's equals the
    * partner's). Contamination is monotone under append: a standing doc
    * flips only when an ARRIVING eval doc's window hits it (window-
    * posting probe); arrivals screen against the full eval window set.
    * Both overlay labels can also flip on BACKFILL arrivals (smaller
    * doc_ids demote standing canonicals) — the same rules cover it, and
    * the spec pins that case. Deletes are outside the contract (the
    * corpus is append-only, the cadence's own precondition).
    *
    * At 100 TB every probe side is batch-bounded: arrival band rows,
    * arrival norm hashes, and arriving eval windows all broadcast; the
    * standing sides are the band/window ARTIFACTS, clustered by exactly
    * the probe key (band key / w_hash), so the reads prune files the way
    * the ingest screens already do. The recompute set's own joins touch
    * affected groups only. */
  private[graft] def deltaOverlayOver(normHashes: DataFrame, fullBands: DataFrame,
                                      docWins: DataFrame, priorOverlay: DataFrame,
                                      evalMod: Long = EvalMod): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tau = Dedup.PipelineEstThreshold
    val est = Dedup.sigEst(col("a.sig"), col("b.sig"))
    // Fan-out lineage CUTS (round 16; round 15 used share/persist):
    // arrivalIds / recompute / the restricted group relation each feed
    // 3-7 downstream branches; left lazy, every consumer re-expands (and
    // re-analyzes) the whole upstream subtree — the r15 persist kept the
    // computation shared but the LOGICAL tree still multiplied per
    // reference (the r15 plan printed 8.5k lines / 1249 Exchange refs and
    // the query anti-scaled 0.44 at 8-vs-32 cores: driver-side
    // analysis + per-reference task fan-out, guide §2.1/§2.4). cut
    // (localCheckpoint) truncates the tree to an RDD leaf, so every
    // consumer plans over a materialized batch-bounded relation. All cut
    // relations are ARRIVAL- or AFFECTED-SET-sized (never corpus-sized),
    // so the materialized copy is batch-bounded at 100 TB too — and the
    // explicit broadcast() hints below keep every corpus-sized artifact
    // scan (bands, norm hashes, window postings, prior overlay) on the
    // STREAM side of its join: the probe side broadcasts, the artifact is
    // never shuffled (guide §3.1; a cut leaf has no size stats, so
    // auto-broadcast would not fire on its own).
    val arrivalIds = graft.Lineage.cut(normHashes.select(col("doc_id"))
      .join(priorOverlay.select(col("doc_id")), Seq("doc_id"), "left_anti"))

    // ---- canonicality: who can an arrival touch?
    // (not cut: 2 consumers, each one broadcast-probe over the bands
    // leaf — recomputing twice inside one job is cheaper than an eager
    // materialization job, measured r16)
    val arrBands = fullBands.join(broadcast(arrivalIds), "doc_id")
    // SIGNATURE-factored (round-12 continuation): the 1000× clone
    // rehearsal caught the doc-level spelling of this join reintroducing
    // the hot-bucket quadratic the round-9 pipeline fix removed — k
    // clones of a doc share one signature, so pairing DOCS multiplies
    // every bucket k×k while pairing DISTINCT SIGNATURES is
    // clone-invariant. Both co-banding (band hashes derive from the sig)
    // and est ≥ tau are functions of the signature pair alone, so
    // sig-level matching marks exactly the same affected docs: a
    // standing doc is affected iff its sig co-bands with an ARRIVAL sig
    // at est ≥ tau (the original's a.doc_id =!= b.doc_id only excluded
    // self-pairs, and an arrival is never its own standing doc; the
    // sig-identical case est = 1 ≥ tau folds in what affSig below also
    // covers — union semantics unchanged).
    val arrSigBands = arrBands
      .select(col("sig"), col("band_idx"), col("band_hash")).distinct()
    val standSigBands = fullBands
      .select(col("sig"), col("band_idx"), col("band_hash")).distinct()
    val affNearSigs = standSigBands.as("a").join(broadcast(arrSigBands.as("b")),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash"))
      .filter(est >= tau)
      .select(col("a.sig").as("aff_sig")).distinct()
    val affNear = fullBands.select(col("doc_id"), col("sig")).distinct()
      .join(broadcast(affNearSigs), col("sig") <=> col("aff_sig"))
      .select(col("doc_id")).distinct()
    // null-text insurance: a sig-identical arrival groups with standing
    // docs even where its (null) band hashes cannot equi-join
    val affSig = fullBands.select(col("doc_id"), col("sig"))
      .join(broadcast(arrBands.select(col("sig").as("s2")).distinct()),
        col("sig") <=> col("s2"))
      .select(col("doc_id")).distinct()
    val arrNorms = normHashes.join(broadcast(arrivalIds), "doc_id")
      .select(col("norm_hash")).distinct()
    val affExact = normHashes.join(broadcast(arrNorms), "norm_hash")
      .select(col("doc_id")).distinct()
    val recompute = graft.Lineage.cut(
      affNear.union(affSig).union(affExact).union(arrivalIds).distinct())

    // ---- exact canon over the touched norm groups (label-artifact probe)
    val rNorms = normHashes.join(broadcast(recompute), "doc_id")
      .select(col("norm_hash")).distinct()
    val exactCanon = normHashes.join(broadcast(rNorms), "norm_hash")
      .groupBy(col("norm_hash")).agg(min(col("doc_id")).as("exact_canon"))
    val rExact = normHashes.join(broadcast(recompute), "doc_id")
      .join(broadcast(exactCanon), "norm_hash")
      .select(col("doc_id"), col("exact_canon"))

    // ---- near canon with FULL-corpus group structure, restricted to the
    //      band keys the recompute docs occupy (a group co-banding them
    //      shares one of these keys, and all its rows with that key
    //      survive the cut — so gmin/epm over the restriction equal the
    //      full pipeline's values for every recompute group)
    val rKeys = fullBands.join(broadcast(recompute), "doc_id")
      .select(col("band_idx"), col("band_hash")).distinct()
    val relBands = fullBands.as("f").join(broadcast(rKeys.as("k")),
        col("f.band_idx") <=> col("k.band_idx") &&
          col("f.band_hash") <=> col("k.band_hash"))
      .select(col("f.doc_id").as("doc_id"), col("f.sig").as("sig"))
    val withG = graft.Lineage.cut(relBands.withColumn("gmin",
      min(col("doc_id")).over(Window.partitionBy(col("sig")))))
    val groups = withG.groupBy(col("gmin")).agg(first(col("sig")).as("sig"))
    val bandsD = groups.select(col("gmin"), col("sig"),
        posexplode(array((0 until Dedup.Bands).map { b =>
          graft.functions.TextFunctions.polyHashLongs(
            slice(col("sig"), b * Dedup.RowsPerBand + 1, Dedup.RowsPerBand))
        }: _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
    // self-joined below (a x b) — without the cut both join sides
    // re-expand the groups/window subtree
    val bandsDCut = graft.Lineage.cut(bandsD)
    val rGmins = withG.join(broadcast(recompute), "doc_id")
      .select(col("gmin")).distinct()
    val epm = broadcast(bandsDCut.join(broadcast(rGmins), "gmin")).as("a")
      .join(bandsDCut.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.gmin") =!= col("b.gmin"))
      .filter(est >= tau)
      .groupBy(col("a.gmin").as("gmin")).agg(min(col("b.gmin")).as("epm"))
    val rNear = withG.select(col("doc_id"), col("gmin")).distinct()
      .join(broadcast(recompute), "doc_id")
      .join(broadcast(epm), Seq("gmin"), "left")
      .select(col("doc_id"),
        when(col("doc_id") === col("gmin"),
          when(col("epm") < col("doc_id"), col("epm")))
          .otherwise(least(col("gmin"), coalesce(col("epm"), col("gmin"))))
          .as("near_canon"))
    val recCanon = rExact.join(broadcast(rNear), "doc_id")
      .select(col("doc_id"),
        (least(col("doc_id"), col("exact_canon"),
          coalesce(col("near_canon"), col("doc_id"))) === col("doc_id"))
          .as("is_canonical"))

    // ---- contamination: monotone under arrivals — a standing doc flips
    //      only on an arriving eval doc's windows; arrivals screen vs the
    //      full eval window set (both sides from the window postings)
    def isEval = pmod(col("doc_id"), lit(evalMod)) === 0
    val arrEvalWins = docWins.join(broadcast(arrivalIds), "doc_id").filter(isEval)
      .select(col("w_hash")).distinct()
    // (not cut: 2 consumers, each one broadcast-probe over the postings
    // leaf — same trade as arrBands)
    val newlyContam = docWins.join(broadcast(arrEvalWins), "w_hash")
      .filter(!isEval).select(col("doc_id")).distinct()
    val evalWinsAll = docWins.filter(isEval).select(col("w_hash")).distinct()
    // the ARRIVAL windows broadcast (batch-bounded); the full eval window
    // set stays on the stream side — the r15 spelling broadcast
    // evalWinsAll, a relation that grows with the corpus' eval split
    val arrContam = evalWinsAll.join(broadcast(
        docWins.join(broadcast(arrivalIds), "doc_id").filter(!isEval)), "w_hash")
      .select(col("doc_id")).distinct()

    // ---- assemble: prior rows carried for every untouched doc
    val kept = priorOverlay.join(broadcast(recompute), Seq("doc_id"), "left_anti")
      .join(broadcast(newlyContam.withColumn("nc", lit(true))), Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_canonical"),
        (col("contaminated") || coalesce(col("nc"), lit(false))).as("contaminated"))
    // prior contamination for recompute docs: probe the prior overlay with
    // the broadcast recompute set (inner), then left-join the batch-sized
    // result back — same rows as the r15 left join against the whole
    // prior, without shuffling the corpus-sized prior by doc_id
    val recPc = priorOverlay.select(col("doc_id"), col("contaminated").as("pc"))
      .join(broadcast(recompute), "doc_id")
    val recContam = recompute
      .join(broadcast(recPc), Seq("doc_id"), "left")
      .join(broadcast(newlyContam.withColumn("nc", lit(true))), Seq("doc_id"), "left")
      .join(broadcast(arrContam.withColumn("ac", lit(true))), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("pc"), lit(false)) || coalesce(col("nc"), lit(false)) ||
          coalesce(col("ac"), lit(false))).as("contaminated"))
    recCanon.join(broadcast(recContam), "doc_id")
      .select(col("doc_id"), col("is_canonical"), col("contaminated"))
      .union(kept)
      .orderBy(col("doc_id"))
  }

  /** Brute-force full-overlay oracle — gates `corpus_overlay_delta`: the
    * delta path's output over the deterministic arrival split must equal
    * the from-scratch overlay of the WHOLE corpus. */
  def docGlobalOracle(evalMod: Long = EvalMod, win: Int = ContamWin): String = {
    val norm = s"array_to_string(${graft.oracle.OracleSql.tokens(graft.oracle.OracleSql.clean("text"))}, ' ')"
    val toks = graft.oracle.OracleSql.tokens("lower(text)")
    s"""WITH mp AS (${Dedup.minhashPairsOracle}),
       |n AS (SELECT doc_id, $norm AS norm FROM documents),
       |e AS (SELECT norm, min(doc_id) AS exact_canon FROM n GROUP BY norm),
       |we AS (SELECT n.doc_id, e.exact_canon FROM n JOIN e USING (norm)),
       |nm AS (SELECT doc_b AS doc_id, min(doc_a) AS near_canon FROM mp
       |       WHERE est_jaccard >= ${Dedup.PipelineEstThreshold} GROUP BY doc_b),
       |tok AS (SELECT doc_id, $toks AS tk FROM documents),
       |w AS (SELECT doc_id, unnest(${graft.oracle.OracleSql.tokenWindows("tk", win)}) AS w FROM tok),
       |ew AS (SELECT DISTINCT w FROM w WHERE doc_id % $evalMod = 0),
       |hits AS (SELECT DISTINCT w.doc_id FROM w JOIN ew USING (w)
       |         WHERE w.doc_id % $evalMod <> 0)
       |SELECT we.doc_id,
       |       least(we.doc_id, we.exact_canon, coalesce(nm.near_canon, we.doc_id)) = we.doc_id AS is_canonical,
       |       (h.doc_id IS NOT NULL) AS contaminated
       |FROM we LEFT JOIN nm USING (doc_id) LEFT JOIN hits h ON we.doc_id = h.doc_id
       |ORDER BY we.doc_id""".stripMargin
  }

  /** Brute-force oracle for [[ingestScreen]]: near-dup partners from the
    * signature CTEs (the dedup_incremental oracle), exact dups by raw-TEXT
    * equality against the standing split — the truth the engine's
    * xxhash64 screen-probe key stands in for (hash equality is text
    * equality at any feasible corpus scale in the 64-bit space; the
    * previous polyHash-mod-1e9 mirror was gate-consistent but both sides
    * would falsely merge ~1 pair per 50k² docs). */
  def ingestScreenOracle: String = {
    s"""WITH ${Dedup.minhashBandCtes},
       |ba AS (SELECT * FROM bands WHERE doc_id % ${Dedup.IncMod} = ${Dedup.IncRem}),
       |co AS (SELECT * FROM bands WHERE doc_id % ${Dedup.IncMod} <> ${Dedup.IncRem}),
       |p AS (SELECT DISTINCT a.doc_id, b.doc_id AS partner
       |      FROM ba a JOIN co b
       |        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |      WHERE len(list_filter(range(1, ${Dedup.MinHashK + 1}),
       |              i -> a.sig[i] = b.sig[i]))::DOUBLE / ${Dedup.MinHashK}.0 >= ${Dedup.IncEstThreshold}),
       |g AS (SELECT doc_id, count(*)::BIGINT AS n_partners, min(partner) AS dup_of
       |      FROM p GROUP BY doc_id),
       |ibh AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id % ${Dedup.IncMod} = ${Dedup.IncRem}),
       |ish AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id % ${Dedup.IncMod} <> ${Dedup.IncRem}),
       |ex AS (SELECT ibh.doc_id, min(ish.doc_id) AS exact_dup_of
       |       FROM ibh LEFT JOIN ish ON ibh.text = ish.text GROUP BY ibh.doc_id)
       |SELECT d.doc_id,
       |       ex.exact_dup_of IS NOT NULL AS is_exact_dup,
       |       g.dup_of IS NOT NULL AS is_near_dup,
       |       coalesce(g.n_partners, 0) AS n_partners, g.dup_of,
       |       ex.exact_dup_of,
       |       (ex.exact_dup_of IS NULL AND g.dup_of IS NULL) AS provisional_admit
       |FROM documents d
       |LEFT JOIN g ON d.doc_id = g.doc_id
       |LEFT JOIN ex ON d.doc_id = ex.doc_id
       |WHERE d.doc_id % ${Dedup.IncMod} = ${Dedup.IncRem}
       |ORDER BY d.doc_id""".stripMargin
  }

  def corpusStatsOracle: String = {
    val toks = graft.oracle.OracleSql.tokens("lower(text)")
    s"""WITH g AS (SELECT l.doc_id, l.lang_pred,
       |             floor(q.quality_score * $StatsQuant.0)::BIGINT AS q_q
       |           FROM (${TextAnalysis.languageIdOracle}) l
       |           JOIN (${TextAnalysis.qualityScoreOracle}) q ON l.doc_id = q.doc_id),
       |tk AS (SELECT doc_id, len($toks)::BIGINT AS n_tok FROM documents),
       |c AS (SELECT doc_id, is_canonical FROM (${Dedup.dedupPipelineOracle})),
       |ct AS (SELECT doc_id, contaminated FROM (${decontaminateOracle()}))
       |SELECT d.source, count(*) AS n_docs, sum(tk.n_tok)::BIGINT AS n_tokens,
       |       sum(CASE WHEN g.lang_pred = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en,
       |       sum(CASE WHEN c.is_canonical THEN 1 ELSE 0 END)::BIGINT AS n_canonical,
       |       sum(CASE WHEN coalesce(ct.contaminated, false) THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
       |       sum(g.q_q)::DOUBLE / (count(*)::DOUBLE * $StatsQuant.0) AS mean_quality
       |FROM documents d
       |JOIN g ON g.doc_id = d.doc_id
       |JOIN tk ON tk.doc_id = d.doc_id
       |JOIN c ON c.doc_id = d.doc_id
       |LEFT JOIN ct ON ct.doc_id = d.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin
  }
}
