package graft.operators

import graft.Tables
import graft.functions.TextFunctions.polyHash
import graft.oracle.OracleSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents` — the corpus-assembly
  * stages that sit between cleaning/dedup and the trainer:
  *
  *  - `sampleStratified`: reproducible per-stratum Bernoulli sampling,
  *  - `mixInterleave`: weighted source interleave (mixture scheduling),
  *  - `docPack`: token-budget sequence packing (concat-then-chunk).
  *
  * None of these exist in the reference (it is a geo lookup library); they
  * generalize its primitives (polyHash fingerprints, deterministic window
  * ranking) to the corpus-pipeline surface the engine targets.
  */
object Pipeline {

  // ------------------------------------------------------ stratified sample

  /** Per-language keep rates in PER-MILLE — exact integers, so the
    * keep/drop threshold compare is engine-independent (no float rate).
    * Languages outside the map (zh in the driver data) take the default. */
  val SampleRatesPerMille: Seq[(String, Int)] = Seq(
    "en" -> 250, "es" -> 500, "de" -> 750, "fr" -> 1000)
  val DefaultRatePerMille = 100

  /** Salt prefixing the hashed key, so this sample is independent of every
    * other polyHash use (fingerprints, simhash permutations). */
  val SampleSalt = "smpl:"

  /** Deterministic stratified Bernoulli sample: keep a document iff
    * polyHash(salt ++ doc_id) mod 1000 < rate(lang). The hash — not
    * rand() — is the sampling coin, so the sample is (a) reproducible
    * across runs/engines, (b) consistent under reprocessing (a re-ingested
    * doc keeps its fate), and (c) computed in a NARROW map-only stage: no
    * shuffle, no window, no count pass, at any corpus size. This is the
    * standard language-rebalancing pass of LLM corpus assembly (downsample
    * the dominant language, keep the tail). */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val bucket = pmod(
      polyHash(concat(lit(SampleSalt), col("doc_id").cast("string"))), lit(1000L))
    val rate = SampleRatesPerMille.foldLeft(lit(DefaultRatePerMille): Column) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    d.select(col("doc_id"), col("lang"),
        bucket.as("sample_bucket"), rate.cast("long").as("keep_rate"))
      .filter(col("sample_bucket") < col("keep_rate"))
      .orderBy(col("doc_id"))
  }

  def sampleStratifiedOracle: String = {
    val b = OracleSql.polyHash(s"('$SampleSalt' || doc_id::VARCHAR)")
    val cases = SampleRatesPerMille
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
    s"""WITH s AS (SELECT doc_id, lang,
       |             $b % 1000 AS sample_bucket,
       |             (CASE $cases ELSE $DefaultRatePerMille END)::BIGINT AS keep_rate
       |           FROM documents)
       |SELECT doc_id, lang, sample_bucket, keep_rate
       |FROM s WHERE sample_bucket < keep_rate
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------- mixture interleave

  /** Mixture weights: a weight-w source contributes w docs per LCM-sized
    * block of the interleaved stream. */
  val MixWeights: Seq[(String, Int)] = Seq("src0" -> 4, "src1" -> 2, "src2" -> 1)
  val MixLimit = 120

  private def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)

  /** LCM of the weights — the scaled-integer trick: doc i of source s sits
    * at position i·(LCM/w_s), an EXACT integer, so the interleave order
    * needs no float division and is identical on every engine. */
  val MixLcm: Int = MixWeights.map(_._2).reduce((a, b) => a / gcd(a, b) * b)

  /** Weighted source interleave — the mixture scheduler of corpus assembly:
    * emit documents so that source s appears with frequency ∝ w_s, with a
    * deterministic total order. Per-source rank (window, shuffles only the
    * selected sources' rows) → scaled-integer position → global top-k
    * (TakeOrderedAndProject — the stream head is distributed top-k, never a
    * global sort). The final `seq` numbering is computed over the already-
    * truncated MixLimit rows, so the single-partition window is bounded by
    * k, not the corpus. */
  def mixInterleave(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(col("source").isin(MixWeights.map(_._1): _*))
    val stride = MixWeights.foldLeft(lit(0): Column) {
      case (acc, (s, w)) => when(col("source") === s, lit(MixLcm / w)).otherwise(acc)
    }
    val perSource = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val top = d
      .withColumn("pos", row_number().over(perSource).cast("long") * stride.cast("long"))
      .orderBy(col("pos"), col("source"), col("doc_id"))
      .limit(MixLimit)
    top.withColumn("seq", row_number()
        .over(Window.orderBy(col("pos"), col("source"), col("doc_id"))).cast("long"))
      .select(col("seq"), col("doc_id"), col("source"), col("pos"))
      .orderBy(col("seq"))
  }

  def mixInterleaveOracle: String = {
    val srcs = MixWeights.map { case (s, _) => s"'$s'" }.mkString(", ")
    val strideCases = MixWeights
      .map { case (s, w) => s"WHEN source = '$s' THEN ${MixLcm / w}" }.mkString(" ")
    s"""WITH f AS (SELECT doc_id, source,
       |             row_number() OVER (PARTITION BY source ORDER BY doc_id)::BIGINT
       |               * (CASE $strideCases END)::BIGINT AS pos
       |           FROM documents WHERE source IN ($srcs)),
       |t AS (SELECT doc_id, source, pos FROM f
       |      ORDER BY pos, source, doc_id LIMIT $MixLimit)
       |SELECT row_number() OVER (ORDER BY pos, source, doc_id)::BIGINT AS seq,
       |       doc_id, source, pos
       |FROM t ORDER BY seq""".stripMargin
  }

  /** Pos-scale for temperature strides: floor(1e6 / √count). */
  val MixTempScale = 1000000.0

  /** Temperature-weighted source mixing (τ = 0.5) — the standard rare-
    * source upsampling knob of multilingual/multi-source training mixes:
    * emission rate ∝ count^τ instead of ∝ count, so a source 100× larger
    * appears only 10× more often. Same deterministic stride-interleave
    * plan as [[mixInterleave]], but the strides DERIVE from the corpus
    * (floor(1e6/√count) — IEEE sqrt is correctly rounded, so the integer
    * stride is bit-identical cross-engine) rather than from a hardcoded
    * weight list; the per-source count table is tiny and broadcasts. */
  def mixTemperature(spark: SparkSession, dir: String,
                     limit: Int = MixLimit): DataFrame =
    mixTemperatureOver(Tables.documents(spark, dir), limit)

  /** Core over an arbitrary (doc_id, source, …) frame — PipelineSpec pins
    * the upsampling semantics on a SKEWED crafted corpus (the driver's
    * synthetic sources are uniform, where τ-sampling degenerates to
    * proportional and the gate row alone would not prove the knob). */
  private[graft] def mixTemperatureOver(d: DataFrame, limit: Int): DataFrame = {
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .withColumn("stride",
        floor(lit(MixTempScale) / sqrt(col("c").cast("double"))).cast("long"))
      .select(col("source"), col("stride"))
    val perSource = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val top = d.join(broadcast(counts), "source")
      .withColumn("pos", row_number().over(perSource).cast("long") * col("stride"))
      .orderBy(col("pos"), col("source"), col("doc_id"))
      .limit(limit)
    top.withColumn("seq", row_number()
        .over(Window.orderBy(col("pos"), col("source"), col("doc_id"))).cast("long"))
      .select(col("seq"), col("doc_id"), col("source"), col("pos"))
      .orderBy(col("seq"))
  }

  def mixTemperatureOracle(limit: Int = MixLimit): String =
    s"""WITH c AS (SELECT source,
       |             floor($MixTempScale / sqrt(count(*)::DOUBLE))::BIGINT AS stride
       |           FROM documents GROUP BY source),
       |f AS (SELECT d.doc_id, d.source,
       |             row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id)::BIGINT
       |               * c.stride AS pos
       |      FROM documents d JOIN c USING (source)),
       |t AS (SELECT doc_id, source, pos FROM f
       |      ORDER BY pos, source, doc_id LIMIT $limit)
       |SELECT row_number() OVER (ORDER BY pos, source, doc_id)::BIGINT AS seq,
       |       doc_id, source, pos
       |FROM t ORDER BY seq""".stripMargin

  // ------------------------------------------- epoch-capped mixture plan

  /** Max repetition per source: ~4 epochs is the published point past
    * which repeated data stops behaving like fresh data (data-constrained
    * scaling, Muennighoff et al. 2023). */
  val EpochCapMax = 4L
  /** Token target as a permille of the corpus total: 3000 = "train for 3×
    * the unique-token count", which forces the repetition question. */
  val EpochTargetPermille = 3000L

  /** Epoch-capped temperature mixing plan — the budget-side complement of
    * [[mixTemperature]]: given a global token TARGET larger than the
    * unique corpus, allocate per-source training tokens ∝ √tokens
    * (τ = 0.5, the same knob), but cap every source at [[EpochCapMax]]
    * epochs of itself and water-fill the freed budget into the uncapped
    * sources. Exact closed-form water-filling, not iteration: sort
    * sources by cap/weight (∝ √tokens, so the sort key is just tokens),
    * and the saturated set is a PREFIX of that order — row k saturates
    * iff cap_k·(W − cumW_k) ≤ (T − cumCap_k)·w_k, all-integer after
    * quantizing w = ⌊√tokens·1000⌋ (one correctly-rounded sqrt+mul+floor
    * of exact integers — bit-identical cross-engine; the cumulative sums
    * are then BIGINT-exact, no double running sums anywhere). The final
    * water level λ = (T − capΣ_sat)/(W − wΣ_sat) allocates
    * ⌊w·λ⌋ to each uncapped source, so Σalloc = min(T, Σcap) exactly.
    *
    * Scale shape: ONE map-side-combined aggregate over the corpus (per-
    * source token sums), then every window runs over the #sources-sized
    * relation — bounded and broadcastable at any corpus size. Integer
    * envelope: cap·W < 2^63 holds through ~10^12 tokens/source at the
    * milli-quantized weight; a 100 TB deployment drops the ×1000 scale
    * (w = ⌊√tokens⌋) for 10^6 more headroom at 3 lost digits of τ
    * precision. PipelineSpec pins the water-filling invariants on a
    * crafted skewed corpus (uniform synthetic sources never cap). */
  def mixEpochCap(spark: SparkSession, dir: String): DataFrame =
    mixEpochCapOver(
      Tables.documents(spark, dir)
        .groupBy(col("source"))
        .agg(sum(size(graft.functions.TextFunctions.tokens(lower(col("text"))))
          .cast("long")).as("n_tok")))

  private[graft] def mixEpochCapOver(perSource: DataFrame): DataFrame = {
    val run = Window.orderBy(col("n_tok"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perSource
      .withColumn("w", floor(sqrt(col("n_tok").cast("double")) * 1000.0).cast("long"))
      .withColumn("cap_tok", col("n_tok") * EpochCapMax)
      .withColumn("cum_cap", sum(col("cap_tok")).over(run))
      .withColumn("cum_w", sum(col("w")).over(run))
      .withColumn("tot_w", sum(col("w")).over(all))
      .withColumn("target",
        expr(s"(sum(n_tok) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) * $EpochTargetPermille) div 1000"))
      .withColumn("sat",
        col("cap_tok") * (col("tot_w") - col("cum_w")) <=
          (col("target") - col("cum_cap")) * col("w"))
      .withColumn("sat_cap", max(when(col("sat"), col("cum_cap")).otherwise(0L)).over(all))
      .withColumn("sat_w", max(when(col("sat"), col("cum_w")).otherwise(0L)).over(all))
      .withColumn("alloc_tok",
        when(col("sat"), col("cap_tok"))
          .otherwise(expr("(w * (target - sat_cap)) div (tot_w - sat_w)")))
      .withColumn("epochs_milli", expr("(alloc_tok * 1000) div n_tok"))
      .select(col("source"), col("n_tok"), col("cap_tok"),
        col("alloc_tok"), col("epochs_milli"))
      .orderBy(col("source"))
  }

  /** Oracle CTE fragment: the water-filling plan over any relation `src`
    * exposing (source, n_tok) — defines `ep_b..ep_l` and the final
    * `ep_plan`(source, n_tok, cap_tok, alloc_tok, epochs_milli). Shared
    * by the standalone mix_epoch rows (plan over the whole corpus) and
    * the composed e2e oracle (plan over the budgeted slice). */
  private[graft] def mixEpochPlanCtes(src: String): String =
    s"""ep_b AS (SELECT source, n_tok,
       |             floor(sqrt(n_tok::DOUBLE) * 1000.0)::BIGINT AS w,
       |             n_tok * $EpochCapMax AS cap_tok
       |      FROM $src),
       |ep_c AS (SELECT *,
       |        sum(cap_tok) OVER (ORDER BY n_tok, source ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cap,
       |        sum(w) OVER (ORDER BY n_tok, source ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_w,
       |        sum(w) OVER ()::BIGINT AS tot_w,
       |        (sum(n_tok) OVER () * $EpochTargetPermille) // 1000 AS target
       |      FROM ep_b),
       |ep_t AS (SELECT *,
       |        cap_tok * (tot_w - cum_w) <= (target - cum_cap) * w AS sat
       |      FROM ep_c),
       |ep_l AS (SELECT *,
       |        max(CASE WHEN sat THEN cum_cap ELSE 0 END) OVER ()::BIGINT AS sat_cap,
       |        max(CASE WHEN sat THEN cum_w ELSE 0 END) OVER ()::BIGINT AS sat_w
       |      FROM ep_t),
       |ep_plan AS (SELECT source, n_tok, cap_tok,
       |       (CASE WHEN sat THEN cap_tok
       |             ELSE (w * (target - sat_cap)) // (tot_w - sat_w) END)::BIGINT AS alloc_tok,
       |       (((CASE WHEN sat THEN cap_tok
       |               ELSE (w * (target - sat_cap)) // (tot_w - sat_w) END) * 1000) // n_tok)::BIGINT AS epochs_milli
       |      FROM ep_l)""".stripMargin

  def mixEpochCapOracle: String = {
    val toks = graft.oracle.OracleSql.tokens("lower(text)")
    s"""WITH s AS (SELECT source, sum(len($toks))::BIGINT AS n_tok
       |           FROM documents GROUP BY source),
       |${mixEpochPlanCtes("s")}
       |SELECT source, n_tok, cap_tok, alloc_tok, epochs_milli
       |FROM ep_plan ORDER BY source""".stripMargin
  }

  /** Salt for the fractional-epoch hash coin. */
  val EpochSalt = "epoch:"

  /** Operationalizes [[mixEpochCap]]'s per-source allocation as a
    * deterministic per-document repetition schedule: every doc of a
    * source with rate e (milli-epochs) appears ⌊e/1000⌋ times, plus one
    * more iff its hash coin lands below the fractional part — the
    * `sampleStratified` hash-Bernoulli design (reproducible, no rand(),
    * membership depends only on the doc's own id), so per source the
    * expected token volume is exactly alloc and the schedule never
    * changes under reprocessing. Downsampling falls out free: a source
    * allocated under one epoch gets base 0 and keeps each doc with
    * probability e/1000 — the same coin runs both directions.
    *
    * Scale shape: the #sources-sized plan broadcasts; the schedule is
    * one map-only pass over the corpus (hash + compare per row). A
    * reader materializes copy k of doc d deterministically (d, k) —
    * nothing here ever explodes the corpus by its repetition factor. */
  def mixEpochApply(spark: SparkSession, dir: String): DataFrame =
    epochScheduleOver(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      mixEpochCap(spark, dir))
      .orderBy(col("doc_id"))

  /** The schedule core over any (doc_id, source) relation and a mix plan
    * — split out so arriving docs are scheduled under the SAME static plan
    * the batch query uses. Map-only and row-local, so it is exact per
    * micro-batch of a stream (StreamingSpec runs it that way). */
  private[graft] def epochScheduleOver(docs: DataFrame,
                                       plan: DataFrame): DataFrame =
    epochCopiesOver(docs, plan)
      .select(col("doc_id"), col("source"), col("n_copies"))

  /** The schedule core over ANY (doc_id, source, …) relation: append
    * `n_copies` under the broadcast plan, preserving every input column —
    * what lets the e2e shard-layout stage schedule its packed rows
    * without re-projecting. */
  private[graft] def epochCopiesOver(rows: DataFrame,
                                     plan: DataFrame): DataFrame = {
    val coin = pmod(
      polyHash(concat(lit(EpochSalt), col("doc_id").cast("string"))), lit(1000L))
    rows
      .join(broadcast(plan.select(col("source"), col("epochs_milli"))), "source")
      .withColumn("n_copies",
        expr("epochs_milli div 1000") +
          when(coin < pmod(col("epochs_milli"), lit(1000L)), 1L).otherwise(0L))
      .drop("epochs_milli")
  }

  def mixEpochApplyOracle: String = {
    val coin = graft.oracle.OracleSql.polyHash(s"('$EpochSalt' || d.doc_id::VARCHAR)")
    s"""WITH plan AS (${mixEpochCapOracle}),
       |sched AS (SELECT d.doc_id, d.source,
       |                 (p.epochs_milli // 1000)
       |                   + (CASE WHEN ($coin) % 1000 < p.epochs_milli % 1000
       |                           THEN 1 ELSE 0 END) AS n_copies
       |          FROM documents d JOIN plan p USING (source))
       |SELECT doc_id, source, n_copies::BIGINT AS n_copies
       |FROM sched ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------- train/val/test

  val SplitSalt = "split:"
  /** Cumulative per-mille boundaries: train < 800 ≤ val < 900 ≤ test. */
  val SplitTrainUpto = 800L
  val SplitValUpto = 900L

  /** Deterministic train/val/test assignment — the same hash-coin design
    * as `sampleStratified` (reproducible, consistent under reprocessing,
    * map-only at any corpus size) carving [0, 1000) per-mille buckets into
    * 80/10/10. A document's split NEVER changes as the corpus grows
    * (membership depends only on its own id), which is the property that
    * keeps eval sets uncontaminated across corpus versions. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      polyHash(concat(lit(SplitSalt), col("doc_id").cast("string"))), lit(1000L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), bucket.as("split_bucket"))
      .withColumn("split",
        when(col("split_bucket") < SplitTrainUpto, "train")
          .when(col("split_bucket") < SplitValUpto, "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))
  }

  def corpusSplitOracle: String = {
    val b = OracleSql.polyHash(s"('$SplitSalt' || doc_id::VARCHAR)")
    s"""WITH s AS (SELECT doc_id, source, $b % 1000 AS split_bucket FROM documents)
       |SELECT doc_id, source, split_bucket,
       |       CASE WHEN split_bucket < $SplitTrainUpto THEN 'train'
       |            WHEN split_bucket < $SplitValUpto THEN 'val'
       |            ELSE 'test' END AS split
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------- split-leakage audit

  /** Minimum estimated Jaccard for a straddling pair to count as leakage
    * (the dedup family's standard near-dup threshold). */
  val LeakageThreshold = 0.5

  /** Split assignment as a PURE EXPRESSION of a doc-id column — what lets
    * the leakage audit label both pair sides map-only, with no join
    * against the split relation. */
  private def splitOf(docId: Column): Column = {
    val bucket = pmod(
      polyHash(concat(lit(SplitSalt), docId.cast("string"))), lit(1000L))
    when(bucket < SplitTrainUpto, "train")
      .when(bucket < SplitValUpto, "val")
      .otherwise("test")
  }

  /** Split-leakage audit — the pipeline-QA step the split + dedup
    * families exist to enable (Lee et al. 2022, arXiv:2107.06499: test-set
    * near-duplicates of training documents inflate eval): every near-dup
    * pair whose two sides land in DIFFERENT splits. Candidates come from
    * the same banded-LSH generation as `dedup_minhash` (one band-key
    * exchange, never all-pairs); the split labels attach as pure
    * hash-expressions on the pair columns (zero extra joins, zero extra
    * scans); pairs at or above [[LeakageThreshold]] estimated Jaccard with
    * differing splits are the audit's findings. Empty output is the
    * healthy state on a properly deduped corpus — the gate corpus is NOT
    * deduped, so the audit is non-vacuous there (spec-asserted). */
  def splitLeakage(spark: SparkSession, dir: String,
                   threshold: Double = LeakageThreshold): DataFrame =
    graft.operators.Dedup.minhashPairs(spark, dir)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        splitOf(col("doc_a")).as("split_a"),
        splitOf(col("doc_b")).as("split_b"),
        col("est_jaccard"))
      .filter(col("split_a") =!= col("split_b"))
      .orderBy(col("doc_a"), col("doc_b"))

  def splitLeakageOracle(threshold: Double = LeakageThreshold): String = {
    def splitSql(c: String) = {
      val b = OracleSql.polyHash(s"('$SplitSalt' || $c::VARCHAR)")
      s"""CASE WHEN $b % 1000 < $SplitTrainUpto THEN 'train'
         |     WHEN $b % 1000 < $SplitValUpto THEN 'val'
         |     ELSE 'test' END""".stripMargin.replaceAll("\n", " ")
    }
    s"""WITH ${graft.operators.Dedup.minhashBandCtes},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT doc_a, doc_b,
       |         len(list_filter(range(1, ${graft.operators.Dedup.MinHashK + 1}),
       |             i -> sig_a[i] = sig_b[i]))::DOUBLE / ${graft.operators.Dedup.MinHashK}.0 AS est_jaccard
       |  FROM pairs)
       |SELECT doc_a, doc_b, ${splitSql("doc_a")} AS split_a,
       |       ${splitSql("doc_b")} AS split_b, est_jaccard
       |FROM est
       |WHERE est_jaccard >= $threshold
       |  AND ${splitSql("doc_a")} <> ${splitSql("doc_b")}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------- split-after-dedup (clean splits)

  /** Split assignment over the CANONICAL dedup survivors — dedup FIRST,
    * then split (Lee et al. 2022 §6, arXiv:2107.06499): `corpusSplit`
    * assigns splits on the raw corpus, so a near-dup pair can straddle
    * train/test and inflate eval ([[splitLeakage]] measures exactly that
    * hazard — 13 straddling pairs on the gate corpus, incl. train↔test at
    * est 1.0). Splitting survivors instead makes leakage at the pipeline
    * threshold STRUCTURALLY impossible: every near-dup pair at
    * est ≥ Dedup.PipelineEstThreshold demotes its larger id from
    * canonicality (the min-wins rule), so no such pair has both sides in
    * the split universe at all — [[splitLeakageClean]] audits it and
    * PipelineSpec pins the audit at zero. Same deterministic hash-coin as
    * `corpusSplit` (a surviving doc's split never changes as the corpus
    * grows). Serving shape: the materialized label pair (row-local base
    * for `source`, corpus-global overlay for canonicality) + map-only
    * split expressions — no dedup re-derivation per call
    * (plan-spec-pinned: no documents scan). */
  def corpusSplitClean(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      polyHash(concat(lit(SplitSalt), col("doc_id").cast("string"))), lit(1000L))
    CorpusPrep.docMetaIndexed(spark, dir)
      .filter(col("is_canonical"))
      .select(col("doc_id"), col("source"), bucket.as("split_bucket"))
      .withColumn("split",
        when(col("split_bucket") < SplitTrainUpto, "train")
          .when(col("split_bucket") < SplitValUpto, "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))
  }

  def corpusSplitCleanOracle: String =
    s"""WITH dp AS MATERIALIZED (${graft.operators.Dedup.dedupPipelineOracle})
       |SELECT s.doc_id, s.source, s.split_bucket, s.split
       |FROM ($corpusSplitOracle) s JOIN dp ON s.doc_id = dp.doc_id
       |WHERE dp.is_canonical
       |ORDER BY s.doc_id""".stripMargin

  /** The audit that closes the split-after-dedup loop, one summary row
    * over the SAME banded candidate generation as [[splitLeakage]]:
    *  - `n_naive_leaks`   — near-dup pairs straddling RAW-corpus splits
    *    (the eval-inflation hazard; nonzero on the gate corpus),
    *  - `n_surviving_pairs` — near-dup pairs with BOTH sides canonical
    *    (the clean-split universe; structurally 0, see
    *    [[corpusSplitClean]]),
    *  - `n_clean_leaks`   — straddling pairs among those (0 ≤ the above).
    * Canonicality attaches by joining the narrow docmeta label scan onto
    * the banded pair relation (linear, never all-pairs); split labels are
    * pure hash-expressions on the pair id columns. Empty candidate set →
    * all-zero row (coalesced), so the audit is total. */
  def splitLeakageClean(spark: SparkSession, dir: String,
                        threshold: Double = LeakageThreshold): DataFrame = {
    // canonicality alone — the corpus-global overlay is the narrower
    // artifact, so the audit never touches the row-local labels
    val meta = Tables.parquet(spark, CorpusPrep.ensureDocGlobal(spark, dir))
      .select(col("doc_id"), col("is_canonical"))
    val labeled = graft.operators.Dedup.minhashPairs(spark, dir)
      .filter(col("est_jaccard") >= threshold)
      .join(meta.select(col("doc_id").as("doc_a"),
        col("is_canonical").as("canon_a")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"),
        col("is_canonical").as("canon_b")), "doc_b")
      .withColumn("straddle", splitOf(col("doc_a")) =!= splitOf(col("doc_b")))
    labeled.agg(
      coalesce(sum(when(col("straddle"), 1L).otherwise(0L)), lit(0L))
        .as("n_naive_leaks"),
      coalesce(sum(when(col("canon_a") && col("canon_b"), 1L).otherwise(0L)),
        lit(0L)).as("n_surviving_pairs"),
      coalesce(sum(when(col("canon_a") && col("canon_b") && col("straddle"),
        1L).otherwise(0L)), lit(0L)).as("n_clean_leaks"))
  }

  def splitLeakageCleanOracle(threshold: Double = LeakageThreshold): String = {
    def splitSql(c: String) = {
      val b = OracleSql.polyHash(s"('$SplitSalt' || $c::VARCHAR)")
      s"""CASE WHEN $b % 1000 < $SplitTrainUpto THEN 'train'
         |     WHEN $b % 1000 < $SplitValUpto THEN 'val'
         |     ELSE 'test' END""".stripMargin.replaceAll("\n", " ")
    }
    s"""WITH ${graft.operators.Dedup.minhashBandCtes},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT doc_a, doc_b,
       |         len(list_filter(range(1, ${graft.operators.Dedup.MinHashK + 1}),
       |             i -> sig_a[i] = sig_b[i]))::DOUBLE / ${graft.operators.Dedup.MinHashK}.0 AS est_jaccard
       |  FROM pairs),
       |dp AS MATERIALIZED (${graft.operators.Dedup.dedupPipelineOracle}),
       |lab AS (
       |  SELECT (${splitSql("e.doc_a")}) <> (${splitSql("e.doc_b")}) AS straddle,
       |         a.is_canonical AS canon_a, b.is_canonical AS canon_b
       |  FROM est e JOIN dp a ON e.doc_a = a.doc_id
       |             JOIN dp b ON e.doc_b = b.doc_id
       |  WHERE e.est_jaccard >= $threshold)
       |SELECT coalesce(sum(CASE WHEN straddle THEN 1 ELSE 0 END), 0)::BIGINT AS n_naive_leaks,
       |       coalesce(sum(CASE WHEN canon_a AND canon_b THEN 1 ELSE 0 END), 0)::BIGINT AS n_surviving_pairs,
       |       coalesce(sum(CASE WHEN canon_a AND canon_b AND straddle THEN 1 ELSE 0 END), 0)::BIGINT AS n_clean_leaks
       |FROM lab""".stripMargin
  }

  // ------------------------------------------------- deterministic shuffle

  val ShuffleSalt = "shuf:"
  val NumShards = 8

  /** Deterministic global training-data shuffle, shard-then-local-order
    * form: shard = hash mod NumShards (narrow), position = rank within the
    * shard by (hash, doc_id). The per-shard windows parallelize across
    * shards — there is NO single-partition global row_number anywhere, so
    * the plan survives any corpus size (one hash exchange + per-shard
    * sorts). Readers consume shard files in (shard, pos) order; the salt
    * makes this permutation independent of every other polyHash use. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit(ShuffleSalt), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(NumShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  def corpusShuffleOracle: String = {
    val h = OracleSql.polyHash(s"('$ShuffleSalt' || doc_id::VARCHAR)")
    s"""WITH s AS (SELECT doc_id, $h AS h FROM documents),
       |r AS (SELECT doc_id, h, h % $NumShards AS shard FROM s)
       |SELECT shard,
       |       row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)::BIGINT AS pos,
       |       doc_id
       |FROM r ORDER BY shard, pos""".stripMargin
  }

  /** Export manifest — the record a training job consumes to trust its
    * input: one row per shard of the shuffled corpus with document count,
    * token volume, and an ORDER-FREE integrity checksum (sum of per-doc
    * content hashes mod P — parallel summation commutes, so the checksum
    * is reproducible under any partitioning; a dropped, duplicated, or
    * altered doc changes it). The per-shard rollup is one hash aggregate
    * on the shard key (bounded: [[NumShards]] rows) over the same
    * map-only shard assignment as `corpus_shuffle` — no window, no sort
    * beyond the output ordering.
    *
    * Overflow bound: the intermediate sum is docs_per_shard × (P-1), so
    * Long is safe to ~9.4e9 docs per shard (beyond it Spark wraps while
    * DuckDB promotes to HUGEINT — they would diverge, the teacher-noise
    * lesson). Production sharding targets fixed shard SIZE (NumShards
    * grows with the corpus; ~1e6-1e7 docs/shard), so the bound holds by
    * three orders of magnitude at any corpus scale. */
  def corpusManifest(spark: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit(ShuffleSalt), col("doc_id").cast("string")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), h.as("h"),
        size(graft.functions.TextFunctions.tokens(lower(col("text"))))
          .cast("long").as("n_tok"),
        polyHash(col("text")).as("content_hash"))
      .withColumn("shard", pmod(col("h"), lit(NumShards.toLong)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        pmod(sum(col("content_hash")), lit(graft.functions.TextFunctions.HashMod))
          .as("checksum"))
      .orderBy(col("shard"))
  }

  def corpusManifestOracle: String = {
    val h = OracleSql.polyHash(s"('$ShuffleSalt' || doc_id::VARCHAR)")
    val ch = OracleSql.polyHash("text")
    val toks = OracleSql.tokens("lower(text)")
    s"""WITH s AS (SELECT doc_id, ($h) % $NumShards AS shard,
       |                  len($toks)::BIGINT AS n_tok, ($ch) AS content_hash
       |           FROM documents)
       |SELECT shard, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       |       (sum(content_hash) % ${graft.functions.TextFunctions.HashMod})::BIGINT
       |         AS checksum
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** Token budget of `corpusTakeBudget`, as a permille of the corpus's
    * total tokens — scale-free, so the cut lands mid-corpus at every SF
    * (an absolute budget would be vacuous or total at the wrong SF). */
  val TokenBudgetPermille = 600L

  /** Token-budget corpus cut: the maximal PREFIX of the deterministic
    * shuffle order (corpusShuffle's (shard, h, doc_id) permutation) whose
    * running token total fits the budget — "give me the first 600B tokens
    * of the shuffled mix", the final sizing step of a training-data
    * assembly. The global running sum is the classic distributed
    * prefix-sum, spelled so NO single-partition window exists at any
    * corpus size:
    *  1. per-shard token sums — one hash aggregate, [[NumShards]] rows;
    *  2. each shard's OFFSET (sum of all earlier shards) — a window over
    *     that bounded relation (the DSIR bounded-window precedent), then
    *     broadcast;
    *  3. the budget — permille of the same bounded relation's total,
    *     exact integer `div`;
    *  4. per-shard running sums — windows partitioned BY SHARD, which
    *     parallelize; global running = offset + local running.
    * One corpus exchange (the shard hash), bounded broadcasts for
    * everything global. Production note: NumShards scales with the corpus
    * (fixed shard SIZE), so per-shard windows stay bounded too. */
  def corpusTakeBudget(spark: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit(ShuffleSalt), col("doc_id").cast("string")))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), h.as("h"),
        size(graft.functions.TextFunctions.tokens(lower(col("text"))))
          .cast("long").as("n_tok"))
      .withColumn("shard", pmod(col("h"), lit(NumShards.toLong)))
    takeBudgetOver(base)
      .select(col("shard"), col("doc_id"), col("n_tok"), col("run_tok"))
      .orderBy(col("shard"), col("run_tok"), col("doc_id"))
  }

  /** The budget cut's distributed prefix-sum core, over any relation with
    * (doc_id, h, shard, n_tok, …) — see [[corpusTakeBudget]] for the
    * stage-by-stage derivation. Keeps every input column and appends
    * `run_tok`; shared with the composed [[corpusE2e]] DAG's budget
    * stage. */
  private[graft] def takeBudgetOver(base: DataFrame): DataFrame = {
    val shardSums = base.groupBy(col("shard")).agg(sum(col("n_tok")).as("st"))
    val offW = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = shardSums
      .withColumn("off", coalesce(sum(col("st")).over(offW), lit(0L)))
      .select(col("shard"), col("off"))
    val budget = shardSums.agg(sum(col("st")).as("tot"))
      .select(expr(s"(tot * $TokenBudgetPermille) div 1000").as("budget"))
    val runW = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .join(broadcast(offsets), "shard")
      .crossJoin(broadcast(budget))
      .withColumn("run_tok", col("off") + sum(col("n_tok")).over(runW))
      .filter(col("run_tok") <= col("budget"))
      .drop("off", "budget")
  }

  /** DuckDB twin: single-node, so the global cumulative sum is one window
    * over the full (shard, h, doc_id) order — semantically identical to
    * offset + per-shard running. Sum-derived outputs cast ::BIGINT (the
    * HUGEINT parity rule). */
  def corpusTakeBudgetOracle: String = {
    val h = OracleSql.polyHash(s"('$ShuffleSalt' || doc_id::VARCHAR)")
    val toks = OracleSql.tokens("lower(text)")
    s"""WITH t AS (SELECT doc_id, ($h) AS h, ($h) % $NumShards AS shard,
       |                  len($toks)::BIGINT AS n_tok
       |           FROM documents),
       |b AS (SELECT (sum(n_tok) * $TokenBudgetPermille) // 1000 AS budget FROM t),
       |r AS (SELECT shard, doc_id, n_tok,
       |             sum(n_tok) OVER (ORDER BY shard, h, doc_id
       |                              ROWS UNBOUNDED PRECEDING)::BIGINT AS run_tok
       |      FROM t)
       |SELECT shard, doc_id, n_tok, run_tok
       |FROM r CROSS JOIN b WHERE run_tok <= budget
       |ORDER BY shard, run_tok, doc_id""".stripMargin
  }

  val ShardProbe = 3L

  /** The training-reader side of `corpusShuffle`: the permutation is
    * materialized ONCE as shard-partitioned parquet (at 100 TB this is the
    * shuffled-corpus layout job), and a reader consumes a single shard via
    * directory-level partition pruning — the scan touches 1/NumShards of
    * the files (PlanShapeSpec asserts the partition filter). Same oracle
    * semantics as corpus_shuffle restricted to the probed shard. */
  def corpusShuffleRead(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Materialize.ensure(spark, "graft_shards", dir, version = 1) { p =>
      corpusShuffle(spark, dir).write.mode("overwrite")
        .partitionBy("shard").parquet(p)
    }
    Tables.parquet(spark, path)
      .filter(col("shard") === ShardProbe)
      // partition-column type inference narrows shard to INT; restore the
      // oracle's BIGINT
      .select(col("shard").cast("long").as("shard"), col("pos"), col("doc_id"))
      .orderBy(col("pos"))
  }

  def corpusShuffleReadOracle: String =
    s"""SELECT shard, pos, doc_id FROM (${corpusShuffleOracle})
       |WHERE shard = $ShardProbe ORDER BY pos""".stripMargin

  // ------------------------------------------------------ sequence packing

  /** Context-window budget in BPE-ish pieces per pack. */
  val PackBudget = 256L

  /** Token-budget sequence packing, concat-then-chunk style: within each
    * source, documents are concatenated in doc_id order and the stream is
    * cut every `PackBudget` pieces — `pack_id` is the chunk a document
    * STARTS in, `pack_off` its offset there (docs may straddle a boundary,
    * exactly like LLM pretraining packing). The running offset is a
    * per-source prefix sum (one shuffle on source); at 100 TB the same
    * shape runs with finer partitions + a broadcast of per-partition
    * offsets (two-pass distributed prefix sum) — the assignment arithmetic
    * is unchanged. Integer `div` on both engines: exact. */
  def docPack(spark: SparkSession, dir: String): DataFrame = {
    val pieces = size(regexp_extract_all(lower(col("text")),
      lit(TextAnalysis.BpePattern), lit(0))).cast("long")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), pieces.as("n_pieces"))
      .withColumn("start_off", sum(col("n_pieces")).over(w) - col("n_pieces"))
      .withColumn("pack_id", expr(s"start_off div $PackBudget"))
      .withColumn("pack_off", col("start_off") - col("pack_id") * PackBudget)
      .select(col("doc_id"), col("source"), col("n_pieces"),
        col("pack_id"), col("pack_off"))
      .orderBy(col("doc_id"))
  }

  /** Chunk-level view of the packing: each document explodes into the packs
    * it spans (a doc straddling a boundary contributes a chunk to every
    * pack it crosses) with exact piece ranges — the rows a pack-reader
    * materializes. `sequence(first, last)` is bounded by the document's own
    * length (≤ n_pieces/budget + 1 chunks), so the explode is narrow and
    * linear; all arithmetic is integer (exact on both engines). Empty
    * documents contribute no chunks. */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val pieces = size(regexp_extract_all(lower(col("text")),
      lit(TextAnalysis.BpePattern), lit(0))).cast("long")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), pieces.as("n_pieces"))
      .withColumn("start_off", sum(col("n_pieces")).over(w) - col("n_pieces"))
      .filter(col("n_pieces") > 0)
      .withColumn("first_pack", expr(s"start_off div $PackBudget"))
      .withColumn("last_pack", expr(s"(start_off + n_pieces - 1) div $PackBudget"))
      .withColumn("pack_id", explode(sequence(col("first_pack"), col("last_pack"))))
      .withColumn("chunk_start", greatest(col("start_off"), col("pack_id") * PackBudget))
      .withColumn("chunk_end",
        least(col("start_off") + col("n_pieces"), (col("pack_id") + 1) * PackBudget))
      .select(col("doc_id"), col("source"), col("pack_id"),
        (col("chunk_start") - col("start_off")).as("piece_off"),
        (col("chunk_end") - col("chunk_start")).as("chunk_len"))
      .orderBy(col("doc_id"), col("pack_id"))
  }

  def docChunksOracle: String =
    s"""WITH n AS (SELECT doc_id, source,
       |             len(regexp_extract_all(lower(text), '${TextAnalysis.BpePattern}'))::BIGINT AS n_pieces
       |           FROM documents),
       |c AS (SELECT *,
       |        sum(n_pieces) OVER (PARTITION BY source ORDER BY doc_id
       |                            ROWS UNBOUNDED PRECEDING) - n_pieces AS start_off
       |      FROM n),
       |b AS (SELECT *, (start_off // $PackBudget)::BIGINT AS first_pack,
       |             ((start_off + n_pieces - 1) // $PackBudget)::BIGINT AS last_pack
       |      FROM c WHERE n_pieces > 0),
       |x AS (SELECT doc_id, source, start_off, n_pieces,
       |             unnest(generate_series(first_pack, last_pack)) AS pack_id
       |      FROM b)
       |SELECT doc_id, source, pack_id,
       |       (greatest(start_off, pack_id * $PackBudget) - start_off)::BIGINT AS piece_off,
       |       (least(start_off + n_pieces, (pack_id + 1) * $PackBudget)
       |         - greatest(start_off, pack_id * $PackBudget))::BIGINT AS chunk_len
       |FROM x ORDER BY doc_id, pack_id""".stripMargin

  def docPackOracle: String =
    s"""WITH n AS (SELECT doc_id, source,
       |             len(regexp_extract_all(lower(text), '${TextAnalysis.BpePattern}'))::BIGINT AS n_pieces
       |           FROM documents),
       |c AS (SELECT *,
       |        sum(n_pieces) OVER (PARTITION BY source ORDER BY doc_id
       |                            ROWS UNBOUNDED PRECEDING) - n_pieces AS start_off
       |      FROM n)
       |SELECT doc_id, source, n_pieces,
       |       (start_off // $PackBudget)::BIGINT AS pack_id,
       |       (start_off - (start_off // $PackBudget) * $PackBudget)::BIGINT AS pack_off
       |FROM c ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ composed end-to-end DAG

  /** Version of every corpus_e2e stage artifact. Bump TOGETHER on any
    * stage-derivation change: each stage is keyed by its upstream
    * artifact's PATH, so a version bump re-paths the whole downstream
    * chain at once. v2: the v3 chain — LM-fluency cut stage between
    * clean and budget, epoch repetition schedule feeding the shard
    * layout. v3: budget artifact no longer stores its order-only
    * h/shard/run_tok columns (no downstream consumer — stage 5 keys
    * per copy). v4: layout keys re-salted ([[EpochShardSalt]]).
    * v5: layout keys DOUBLE-hashed — re-salting alone cannot escape the
    * budget prefix's residue bias (the polynomial-hash family is affine
    * mod 8; see [[EpochShardSalt]]); measured 5.8× shard skew at the
    * 10× replica under single ShuffleSalt keys, 3.9× re-salted,
    * multinomial-balanced double-hashed. */
  val E2eVersion = 5

  /** Stage 2 — clean splits, label-only: join the row-local docbase with
    * the corpus-global overlay (the split label pair, round 11), keep
    * dedup survivors, attach the deterministic split (the
    * [[corpusSplitClean]] semantics), and carry exactly the text-derived
    * columns the downstream stages need (n_tok for the budget, n_pieces
    * for packing, content_hash for the manifest, lm_score for the
    * fluency cut). One narrow equi-join over the labels; raw documents
    * are NEVER read here (plan-spec-pinned). */
  private[graft] def e2eCleanFrom(spark: SparkSession, basePath: String,
                                  globalPath: String): DataFrame =
    Tables.parquet(spark, basePath)
      .join(Tables.parquet(spark, globalPath), "doc_id")
      .filter(col("is_canonical"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("n_pieces"),
        col("content_hash"), col("lm_score"))
      .withColumn("split", splitOf(col("doc_id")))

  /** Stage 2b — LM-fluency cut over the clean artifact: keep documents at
    * or above the MEDIAN trained-LM score of the clean relation (the
    * [[LmQuality.lmCut]] percentile-anchored semantics, applied as a
    * chain stage — the CCNet deployment shape). The median spans ALL
    * splits of the clean slice (the relation this stage reads), evaluated
    * once as a scalar subquery over the artifact; the filter then
    * streams. At 100 TB the exact percentile becomes `approx_percentile`
    * with an identical plan shape; exact here because the gate demands
    * bit-equality. lm_score is dropped after the cut — no downstream
    * stage needs it. */
  private[graft] def e2eLmCutFrom(spark: SparkSession, cleanPath: String): DataFrame = {
    val c = Tables.parquet(spark, cleanPath)
    val med = c.agg(
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY lm_score)").as("m"))
    c.filter(col("lm_score") >= med.scalar()).drop("lm_score")
  }

  /** Stage 3 — token-budget cut of the TRAIN slice, in the deterministic
    * shuffle order: the [[corpusTakeBudget]] distributed prefix-sum (no
    * single-partition window at any size), reading only the lm-cut
    * artifact. h/shard exist only to define the budget ORDER and are
    * dropped from the artifact — stage 5 places every epoch COPY by its
    * own per-copy hash key, so the per-doc keys have no downstream
    * consumer (storing them would be dead bytes at 100 TB). */
  private[graft] def e2eBudgetFrom(spark: SparkSession, cleanPath: String): DataFrame = {
    val base = Tables.parquet(spark, cleanPath)
      .filter(col("split") === "train")
      .drop("split")
      .withColumn("h",
        polyHash(concat(lit(ShuffleSalt), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("h"), lit(NumShards.toLong)))
    takeBudgetOver(base).drop("h", "shard", "run_tok")
  }

  /** Stage 4 — sequence packing of the budgeted slice: the [[docPack]]
    * concat-then-chunk assignment (per-source prefix sum over n_pieces),
    * reading only the budget artifact. */
  private[graft] def e2ePackFrom(spark: SparkSession, budgetPath: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.parquet(spark, budgetPath)
      .withColumn("start_off", sum(col("n_pieces")).over(w) - col("n_pieces"))
      .withColumn("pack_id", expr(s"start_off div $PackBudget"))
      .withColumn("pack_off", col("start_off") - col("pack_id") * PackBudget)
      .drop("start_off")
  }

  /** Salt for the layout permutation, used under a DOUBLE hash (see
    * below). The budget stage keeps the maximal PREFIX of the
    * (h mod NumShards, h, doc_id) order under ShuffleSalt, so the kept
    * set is a systematically biased region of that key space (low
    * h-mod-shard residues kept whole, high ones cut) — measured at the
    * 10× replica: 121..699 docs/shard (5.8× max/min) in a smooth hump
    * when the layout reused ShuffleSalt keys, and the pre-epoch round-9
    * layout left shards 5-7 entirely EMPTY at sf0.01.
    *
    * Re-salting alone does NOT fix it (measured: still 3.9×): for
    * fixed-length payloads, polyHash(saltA‖s) − polyHash(saltB‖s) is a
    * CONSTANT (the salt only shifts), and appending ":copy" multiplies
    * by 31² ≡ 1 (mod 8) — the whole polynomial-hash family is affine
    * mod small powers of two, so every salted variant inherits the
    * budget cut's residue bias. The layout key therefore hashes the
    * HASH: polyHash of the first hash's DECIMAL DIGITS, whose carries
    * break the affine structure. Measured on the replica's kept set:
    * max shard deviation 22 rows ≈ 1σ of multinomial — balanced. */
  val EpochShardSalt = "eshard:"

  /** Stage 5 — the epoch-scheduled deterministic shuffle layout: the
    * water-filling mix plan ([[mixEpochCapOver]]) is derived from the
    * pack artifact's per-source token totals (a bounded aggregate that
    * broadcasts at any corpus size), each packed doc gets its repetition
    * count under the hash-Bernoulli schedule ([[epochCopiesOver]] — the
    * mix_epoch_apply coin, so the standalone row and the chain agree),
    * and every COPY is placed independently in the global permutation by
    * its own hash key (`EpochShardSalt + doc_id + ":" + copy` — see the
    * salt's doc for why it must be independent of the budget order) —
    * copies of a doc scatter across shards and positions, which is
    * exactly what a multi-epoch training order wants (adjacent repeats
    * are the failure mode). Docs allocated under one epoch drop with
    * probability 1 − e/1000 — downsampling falls out of the same coin.
    * Each copy references the SAME pack chunk (pack_id, pack_off):
    * repetition multiplies the read schedule, never the stored bytes.
    * Per-shard position windows parallelize across shards (no
    * single-partition stage); written shard-partitioned so a training
    * reader prunes to its shard's files. Reads only the pack artifact. */
  private[graft] def e2eShardsFrom(spark: SparkSession, packPath: String): DataFrame = {
    val packed = Tables.parquet(spark, packPath)
    val plan = mixEpochCapOver(
      packed.groupBy(col("source")).agg(sum(col("n_tok")).as("n_tok")))
    val hc = polyHash(
      polyHash(concat(lit(EpochShardSalt), col("doc_id").cast("string"),
        lit(":"), col("copy").cast("string"))).cast("string"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("hc"), col("doc_id"), col("copy"))
    epochCopiesOver(packed, plan)
      .filter(col("n_copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("n_copies") - 1L)))
      .withColumn("hc", hc)
      .withColumn("shard", pmod(col("hc"), lit(NumShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"), col("copy"),
        col("n_tok"), col("content_hash"), col("pack_id"), col("pack_off"))
  }

  /** Stage 6 — the export manifest over the shard layout: per shard, ROW
    * count (epoch copies counted — what a reader actually serves per
    * pass), token volume over copies, the order-free content checksum
    * (the [[corpusManifest]] integrity design, copies counted with
    * multiplicity — a dropped or duplicated copy changes it), and a pack
    * checksum (order-free sum over pack_id·budget+pack_off = each row's
    * global piece offset — any change to the packing assignment changes
    * it). One bounded hash aggregate over the final artifact only. */
  private[graft] def e2eManifestFrom(spark: SparkSession, shardsPath: String): DataFrame =
    e2eManifestOver(Tables.parquet(spark, shardsPath))

  /** The rollup over any (shard, n_tok, content_hash, pack_id, pack_off)
    * relation — split out so the spec can pin checksum order-freeness by
    * feeding a re-partitioned layout. */
  private[graft] def e2eManifestOver(layout: DataFrame): DataFrame = {
    val P = graft.functions.TextFunctions.HashMod
    layout
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        pmod(sum(col("content_hash")), lit(P)).as("checksum"),
        pmod(sum(pmod(col("pack_id") * PackBudget + col("pack_off"), lit(P))),
          lit(P)).as("pack_checksum"))
      .orderBy(col("shard"))
  }

  /** Builds (once) the composed corpus-assembly DAG — the pipeline the
    * stage operators exist FOR, as chained MATERIALIZED artifacts:
    *
    *   documents → graft_docbase + graft_docglobal (the split label pair:
    *                row-local appendable labels incl. LM score — the
    *                raw-text scans — and the corpus-global overlay)
    *             → graft_e2eclean  (dedup survivors + splits, label-only)
    *             → graft_e2elmcut  (LM-fluency median cut)
    *             → graft_e2ebudget (train slice, token-budget prefix cut)
    *             → graft_e2epack   (sequence packing)
    *             → graft_e2eshards (epoch-scheduled shuffle layout,
    *                                shard-partitioned)
    *
    * Each stage READS its upstream stage's artifact and nothing else —
    * at 100 TB every stage is a narrow pass over already-reduced data,
    * and a re-run of the query serves from the final layout without
    * touching any earlier stage. Staleness is TRANSITIVE by design: a
    * stage is keyed by its upstream artifact's path and manifests its
    * files, so a rebuilt (or appended) upstream marks every downstream
    * stage stale in turn, all the way from a raw-data change. The chain
    * deliberately has no append face — budget/pack/shuffle are
    * prefix-sum stages where an increment shifts every later row, so an
    * ingest increment rebuilds from the labels down — but the EXPENSIVE
    * half of the labels (the row-local raw-text scans) is appendable
    * since round 11, so the increment's text cost is batch-sized; only
    * the corpus-global overlay and the label-only chain re-derive. The
    * clean stage keys on BOTH label artifacts (ensureMulti), so
    * transitive staleness flows from either half. */
  def ensureCorpusE2e(spark: SparkSession, dir: String): String = {
    val base = graft.Materialize.ensure(spark, CorpusPrep.docBase(spark, dir), dir,
      Tables.documents(spark, dir))
    val global = CorpusPrep.ensureDocGlobal(spark, dir)
    val clean = graft.Materialize.ensureMulti(spark, "graft_e2eclean",
        Seq(base, global), E2eVersion) {
      p => e2eCleanFrom(spark, base, global).write.mode("overwrite").parquet(p)
    }
    val lmcut = graft.Materialize.ensure(spark, "graft_e2elmcut", clean, E2eVersion) {
      p => e2eLmCutFrom(spark, clean).write.mode("overwrite").parquet(p)
    }
    val budget = graft.Materialize.ensure(spark, "graft_e2ebudget", lmcut, E2eVersion) {
      p => e2eBudgetFrom(spark, lmcut).write.mode("overwrite").parquet(p)
    }
    val pack = graft.Materialize.ensure(spark, "graft_e2epack", budget, E2eVersion) {
      p => e2ePackFrom(spark, budget).write.mode("overwrite").parquet(p)
    }
    graft.Materialize.ensure(spark, "graft_e2eshards", pack, E2eVersion) { p =>
      e2eShardsFrom(spark, pack).write.mode("overwrite")
        .partitionBy("shard").parquet(p)
    }
  }

  /** The gated face of the composed DAG: ensure the chain, then serve the
    * manifest from the final layout — ONE artifact scan once built
    * (plan-spec-pinned: no documents read anywhere in the serving plan).
    * The oracle recomputes the whole composition from raw documents in
    * SQL, so the gate checks every stage's semantics through to the final
    * checksums. */
  def corpusE2e(spark: SparkSession, dir: String): DataFrame =
    e2eManifestFrom(spark, ensureCorpusE2e(spark, dir))

  /** Shared CTE chain through the per-copy relation `copies`(doc_id,
    * n_tok, content_hash, start_off, copy) — the whole v3 composition up
    * to the shard assignment, consumed by the manifest oracle and the
    * shard-read oracle. */
  private def e2eChainCtes: String = {
    val sb = OracleSql.polyHash(s"('$SplitSalt' || doc_id::VARCHAR)")
    val h = OracleSql.polyHash(s"('$ShuffleSalt' || doc_id::VARCHAR)")
    val ch = OracleSql.polyHash("d.text")
    val toks = OracleSql.tokens("lower(d.text)")
    val coin = OracleSql.polyHash(s"('$EpochSalt' || doc_id::VARCHAR)")
    s"""dp AS MATERIALIZED (${graft.operators.Dedup.dedupPipelineOracle}),
       |${LmQuality.lmScoreCtes},
       |cleanx AS MATERIALIZED (
       |  SELECT d.doc_id, d.source,
       |         len($toks)::BIGINT AS n_tok,
       |         len(regexp_extract_all(lower(d.text), '${TextAnalysis.BpePattern}'))::BIGINT AS n_pieces,
       |         ($ch) AS content_hash,
       |         coalesce(lms.lm_score, 0.0) AS lm_score
       |  FROM documents d JOIN dp ON d.doc_id = dp.doc_id
       |       LEFT JOIN lms ON d.doc_id = lms.doc_id
       |  WHERE dp.is_canonical),
       |lmmed AS (SELECT quantile_cont(lm_score, 0.5) AS m FROM cleanx),
       |meta AS (SELECT cleanx.*, ($h) AS h, ($h) % $NumShards AS shard
       |         FROM cleanx, lmmed
       |         WHERE lm_score >= lmmed.m
       |           AND ($sb) % 1000 < $SplitTrainUpto),
       |b AS (SELECT (sum(n_tok) * $TokenBudgetPermille) // 1000 AS budget FROM meta),
       |r AS (SELECT *, sum(n_tok) OVER (ORDER BY shard, h, doc_id
       |                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS run_tok
       |      FROM meta),
       |kept AS (SELECT r.* FROM r CROSS JOIN b WHERE run_tok <= budget),
       |packed AS MATERIALIZED (SELECT *,
       |             (sum(n_pieces) OVER (PARTITION BY source ORDER BY doc_id
       |                                  ROWS UNBOUNDED PRECEDING) - n_pieces)::BIGINT AS start_off
       |           FROM kept),
       |ps AS (SELECT source, sum(n_tok)::BIGINT AS n_tok
       |       FROM packed GROUP BY source),
       |${mixEpochPlanCtes("ps")},
       |sched AS (SELECT p.doc_id, p.n_tok, p.content_hash, p.start_off,
       |                 (ep.epochs_milli // 1000
       |                   + CASE WHEN ($coin) % 1000 < ep.epochs_milli % 1000
       |                          THEN 1 ELSE 0 END)::BIGINT AS n_copies
       |          FROM packed p JOIN ep_plan ep USING (source)),
       |copies AS (SELECT doc_id, n_tok, content_hash, start_off,
       |                  unnest(range(n_copies)) AS copy
       |           FROM sched WHERE n_copies > 0)""".stripMargin
  }

  /** DuckDB twin of the COMPOSITION: survivors (dedup pipeline) + LM
    * scores → median fluency cut over the clean slice (all splits) →
    * train split → budget prefix cut in shuffle order (single-node: one
    * global cumulative window ≡ offset + per-shard running) → per-source
    * pack offsets → water-filling epoch plan over the budgeted slice →
    * hash-Bernoulli repetition schedule → per-copy shard assignment →
    * per-shard manifest rollup. start_off equals pack_id·budget+pack_off
    * exactly, so the pack checksum matches the Spark spelling term by
    * term; copies are counted with multiplicity in every aggregate. */
  def corpusE2eOracle: String = {
    val hc1 = OracleSql.polyHash(
      s"('$EpochShardSalt' || doc_id::VARCHAR || ':' || copy::VARCHAR)")
    val hc = OracleSql.polyHash(s"(($hc1)::VARCHAR)")
    val P = graft.functions.TextFunctions.HashMod
    s"""WITH ${e2eChainCtes}
       |SELECT (($hc) % $NumShards)::BIGINT AS shard,
       |       count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       |       (sum(content_hash) % $P)::BIGINT AS checksum,
       |       (sum(start_off % $P) % $P)::BIGINT AS pack_checksum
       |FROM copies GROUP BY 1 ORDER BY shard""".stripMargin
  }

  /** The training-reader side of the composed DAG: ONE shard of the
    * final epoch-scheduled layout in position order, via directory-level
    * partition pruning (the corpusShuffleRead design on the e2e chain's
    * real artifact — PlanShapeSpec asserts the partition filter). This
    * is what a trainer's data loader actually consumes: (pos, doc_id,
    * copy, pack_id, pack_off) — copy k of a doc re-reads the same pack
    * chunk at its own scheduled position. */
  def corpusE2eRead(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, ensureCorpusE2e(spark, dir))
      .filter(col("shard") === ShardProbe)
      // partition-column type inference narrows shard to INT; restore
      // the oracle's BIGINT
      .select(col("shard").cast("long").as("shard"), col("pos"),
        col("doc_id"), col("copy"), col("pack_id"), col("pack_off"))
      .orderBy(col("pos"))

  /** pack_id/pack_off recompute from start_off (they are its div/mod by
    * construction — the same identity the manifest's pack checksum
    * already rides). */
  def corpusE2eReadOracle: String = {
    val hc1 = OracleSql.polyHash(
      s"('$EpochShardSalt' || doc_id::VARCHAR || ':' || copy::VARCHAR)")
    val hc = OracleSql.polyHash(s"(($hc1)::VARCHAR)")
    s"""WITH ${e2eChainCtes},
       |ck AS (SELECT doc_id, copy, start_off, ($hc) AS hc FROM copies),
       |lay AS (SELECT (hc % $NumShards)::BIGINT AS shard,
       |          row_number() OVER (PARTITION BY hc % $NumShards
       |                             ORDER BY hc, doc_id, copy)::BIGINT AS pos,
       |          doc_id, copy,
       |          (start_off // $PackBudget)::BIGINT AS pack_id,
       |          (start_off % $PackBudget)::BIGINT AS pack_off
       |        FROM ck)
       |SELECT shard, pos, doc_id, copy, pack_id, pack_off
       |FROM lay WHERE shard = $ShardProbe ORDER BY pos""".stripMargin
  }
}
