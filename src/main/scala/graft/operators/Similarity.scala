package graft.operators

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float] vectors).
  *
  * Brute-force cosine top-k is the correctness baseline: probe broadcast ×
  * corpus scan → dot/norm as codegen'd array expressions →
  * TakeOrderedAndProject. At 100 TB the same plan shape survives — the scan
  * parallelizes and top-k is partial-per-partition — but the scale path is
  * the LSH-bucketed variant (random-hyperplane signs → candidates share a
  * bucket), which turns the cross product into an equi-join.
  */
object Similarity {

  /** Sequential-fold dot product / cosine of two float arrays, as native
    * codegen'd expressions (graft.functions.VectorFunctions) — the fold
    * order matches the DuckDB oracle's `list_reduce`, so the result is
    * bit-deterministic across both engines. VectorKernelSpec pins them
    * bit-equal to the composed built-in forms. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dotF(a, b)

  def cosine(a: Column, b: Column): Column = graft.functions.VectorFunctions.cosineF(a, b)

  /** Top-k nearest to the probe vector (vec_id = probeId) by cosine. */
  def cosineTopK(spark: SparkSession, dir: String, probeId: Long, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"))
    e.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("probe_emb")), 4).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  def cosineTopKOracle(probeId: Long, k: Int): String = {
    def dotSql(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1),
         | i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)""".stripMargin.replaceAll("\n", " ")
    val cos = s"(${dotSql("e.embedding", "p.probe_emb")} / " +
      s"(sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("p.probe_emb", "p.probe_emb")})))"
    s"""WITH p AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = $probeId)
       |SELECT e.vec_id, e.label, round($cos, 4) AS cosine_sim
       |FROM embeddings e CROSS JOIN p
       |WHERE e.vec_id <> $probeId
       |ORDER BY cosine_sim DESC, e.vec_id
       |LIMIT $k""".stripMargin
  }

  /** Random-hyperplane LSH signature of an embedding column: sign bits of
    * the dot product against `planes` deterministic pseudo-random
    * hyperplanes (components derived from a hash of (plane, dim) — no RNG,
    * reproducible across runs/engines). Native codegen'd expression;
    * VectorKernelSpec pins it to the composed form. */
  def lshSignature(emb: Column, planes: Int): Column =
    graft.functions.VectorFunctions.lshSignatureF(emb, planes)

  /** Scale path: LSH bucket per vector. Vectors sharing a bucket are
    * candidates; exact cosine re-ranks. This replaces the O(N) probe scan
    * with an equi-join on the bucket key.
    */
  def lshBuckets(spark: SparkSession, dir: String, planes: Int): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        lshSignature(col("embedding"), planes).as("bucket"))
      .orderBy(col("vec_id"))

  /** Oracle fragment: the LSH signature of embedding column `e`. */
  def lshSignatureSql(e: String, planes: Int): String = {
    def comp(p: Int, i: String) =
      s"((($i * 2654435761 + ${p.toLong * 40503L + 12345L}) % 1000)::DOUBLE / 1000.0 - 0.5)"
    val terms = (0 until planes).map { p =>
      val proj = s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($e) + 1),
        | i -> $e[i]::DOUBLE * ${comp(p, "(i - 1)")})), (acc, x) -> acc + x)""".stripMargin.replaceAll("\n", " ")
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"($terms)::BIGINT"
  }

  def lshBucketsOracle(planes: Int): String =
    s"""SELECT vec_id, label,
       |       ${lshSignatureSql("embedding", planes)} AS bucket
       |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Oracle fragment: left-to-right fold dot product (matches `dot`). */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1),
       | i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)""".stripMargin.replaceAll("\n", " ")

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  // ------------------------------------------------------------------- IVF

  /** Default codebook size — a CONSTANT, independent of corpus size. The
    * broadcast codebook is C×dim floats regardless of N; at 100 TB C grows
    * to a few thousand trained centroids, still kilobytes-to-megabytes. */
  val IvfNumCentroids = 16

  /** Target cell SIZE (vectors per cell) for the AUTO-derived codebook —
    * SCALE.md §ncells-growth's corrected rule made executable: fixed cell
    * size (ncells ∝ N) keeps probed rows flat at fixed nprobe, and with
    * this constant the rule stops living in prose. Anchor-calibrated:
    * sf0.1's 2,000 vectors / 16 cells = 125, so at the anchor and every
    * smaller gate corpus [[autoNumCentroids]] lands exactly on
    * [[IvfNumCentroids]] (degenerate parity, spec-pinned) while the 10×
    * replica derives the MEASURED ∝N row (160 cells — probed rows flat at
    * 1,290 vs the anchor's 1,474; SCALE.md §ncells table). */
  val IvfTargetCellSize = 125L

  /** cells ≈ N / [[IvfTargetCellSize]], floored at the anchor codebook.
    * Never outruns the deterministic id-stride sample: the codebook draws
    * every 25th id below 25·ncells, and 25·(N/125) = N/5 < N always. */
  def autoNumCentroids(n: Long): Int =
    math.max(IvfNumCentroids.toLong, n / IvfTargetCellSize).toInt

  /** IVF (inverted-file) ANN — the disk-friendly scale path:
    *  1. coarse quantizer: a FIXED-SIZE deterministic sample of
    *     `numCentroids` vectors (every `centroidMod`-th vector, capped) is
    *     the codebook. C is a constant — NOT a fraction of N — so the
    *     assignment stage is scan × constant-size broadcast (O(N·C) work,
    *     O(C) memory) at any corpus size. At scale this is a trained
    *     k-means codebook; the plan shape is identical.
    *  2. cell assignment: argmax-cosine centroid per vector, computed as a
    *     broadcast join + partial `max(struct(cos, -cid))` aggregation
    *     (map-side combine — one shuffled row per vector, never N×C);
    *  3. probe: rank centroids by cosine to the probe, keep `nprobe` cells;
    *  4. exact cosine top-k over ONLY the candidate cells' vectors.
    * At 100 TB the assignment is computed once at ingest and partitioned by
    * cell id (see `ivfBucketedTopK`), so a query touches nprobe/C of the
    * data.
    */
  def ivfTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
              centroidMod: Long = 25L, nprobe: Int = 2,
              numCentroids: Int = IvfNumCentroids): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = centroids(e, centroidMod, numCentroids)
    val assign = cellAssignment(e, cent)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val probeCells = ivfProbeCells(cent, probe, nprobe)
    val cand = assign.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId).select("vec_id")
    exactRerank(e.join(cand, "vec_id"), probe, k)
  }

  /** Two-level IVF — the escalation the round-9 ncells measurement calls
    * for (SCALE.md §ncells): keeping probed rows flat needs ncells ∝ N,
    * but then the flat coarse-quantizer scan (rank ALL C centroids per
    * query) grows linearly and becomes its own ANN problem at ~1e7 cells.
    * Standard answer: quantize the codebook itself. Level 1 groups the C2
    * fine centroids under C1 coarse reps (deterministic sample of the
    * fine codebook, same frozen-under-appends pattern); a query ranks the
    * C1 reps, keeps `nprobe1` groups, ranks ONLY those groups' fine
    * centroids (≈ nprobe1·C2/C1 rows instead of C2), keeps `nprobe`
    * cells, then exact-reranks the cells' vectors as usual. Query-side
    * centroid work drops from O(C2) to O(C1 + nprobe1·C2/C1) — O(√C2) at
    * the balanced C1 ≈ √C2 — while the data read stays nprobe cells.
    * With nprobe1 = C1 the coarse level prunes nothing and the result
    * equals single-level [[ivfTopK]] EXACTLY (OperatorParitySpec pins
    * it); below that, the coarse pruning is a recall trade measured by
    * `ann_ivf2_recall`, the same way nprobe/C is. */
  def ivf2TopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
               centroidMod: Long = 25L, nprobe: Int = 2,
               numCentroids: Int = IvfNumCentroids,
               coarseStride: Long = 4L, numCoarse: Int = 4,
               nprobe1: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val fine = centroids(e, centroidMod, numCentroids)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val probeCells = ivf2ProbeCells(fine, probe, centroidMod,
      coarseStride, numCoarse, nprobe1, nprobe)
    val cand = cellAssignment(e, fine).join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId).select("vec_id")
    exactRerank(e.join(cand, "vec_id"), probe, k)
  }

  /** The coarse-rep subsample of a fine codebook (every
    * `coarseStride`-th centroid, capped at `numCoarse`) — the second
    * quantization level every two-level form shares. */
  private[graft] def coarseReps(fine: DataFrame, centroidMod: Long,
                                coarseStride: Long, numCoarse: Int): DataFrame =
    fine.filter(col("cid") % (centroidMod * coarseStride) === 0 &&
        col("cid") < centroidMod * coarseStride * numCoarse)
      .select(col("cid").as("gid"), col("cemb").as("gemb"))

  /** fine→coarse group assignment: the SAME argmax-cosine derivation as
    * vector→cell, applied one level up (codebook-sized). */
  private[graft] def fineToCoarse(fine: DataFrame, coarse: DataFrame): DataFrame =
    cellAssignment(
        fine.select(col("cid").as("vec_id"), col("cemb").as("embedding")),
        coarse.select(col("gid").as("cid"), col("gemb").as("cemb")))
      .select(col("vec_id").as("cid"), col("cell").as("gid"))

  /** The shared coarse→fine probe-cell selection of every two-level form:
    * rank the C1 coarse reps, keep `nprobe1` groups, rank ONLY those
    * groups' fine centroids, keep `nprobe` cells. All inputs are
    * codebook-sized; the fine→coarse assignment is the SAME argmax-cosine
    * derivation as vector→cell, applied one level up. */
  private[graft] def ivf2ProbeCells(fine: DataFrame, probe: DataFrame,
                                    centroidMod: Long, coarseStride: Long,
                                    numCoarse: Int, nprobe1: Int,
                                    nprobe: Int): DataFrame = {
    val coarse = coarseReps(fine, centroidMod, coarseStride, numCoarse)
    val f2c = fineToCoarse(fine, coarse)
    val probeGroups = coarse.crossJoin(broadcast(probe))
      .select(col("gid"), cosine(col("gemb"), col("pemb")).as("gc"))
      .orderBy(col("gc").desc, col("gid")).limit(nprobe1)
      .select(col("gid"))
    ivfProbeCells(fine.join(broadcast(f2c), "cid").join(broadcast(probeGroups), "gid"),
      probe, nprobe)
  }

  /** The flat probe-cell selection: rank the centroids (`cid`, `cemb`) by
    * cosine to the one-row probe (`pemb`), keep `nprobe` cells. */
  private[graft] def ivfProbeCells(cent: DataFrame, probe: DataFrame,
                                   nprobe: Int): DataFrame =
    cent.crossJoin(broadcast(probe))
      .select(col("cid"), cosine(col("cemb"), col("pemb")).as("pc"))
      .orderBy(col("pc").desc, col("cid")).limit(nprobe)
      .select(col("cid").as("cell"))

  /** The exact re-rank every single-probe IVF form ends in: the candidate
    * rows (`vec_id`, `label`, `embedding`) against the one-row probe
    * (`pemb`), cosine rounded to 4 places, top `k` by (cosine_sim desc,
    * vec_id). */
  private[graft] def exactRerank(cand: DataFrame, probe: DataFrame, k: Int): DataFrame =
    cand.crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("pemb")), 4).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)

  /** The SERVED two-level form: the same coarse→fine probe-cell
    * selection as [[ivf2TopK]] (codebook-sized work, O(√C) query-side),
    * with candidates read from the cell-partitioned `graft_ivf` index —
    * the nprobe cell directories only, exactly [[ivfBucketedTopK]]'s
    * pruned-read path. Identical results to `ivf2TopK` (the probed cells
    * and exact re-rank are the same; one oracle gates both, and
    * OperatorParitySpec pins bit-equality), so at ncells ∝ N a serving
    * tier gets flat probed rows AND sub-linear centroid ranking AND the
    * partition-pruned read in one plan. */
  def ivf2BucketedTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
                       centroidMod: Long = 25L, nprobe: Int = 2,
                       numCentroids: Int = IvfNumCentroids,
                       coarseStride: Long = 4L, numCoarse: Int = 4,
                       nprobe1: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val fine = centroids(e, centroidMod, numCentroids)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val probeCells = ivf2ProbeCells(fine, probe, centroidMod,
      coarseStride, numCoarse, nprobe1, nprobe)
    val indexPath = ensureIvfIndex(spark, dir, e, fine, centroidMod, numCentroids)
    exactRerank(Tables.parquet(spark, indexPath).join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId), probe, k)
  }

  def ivf2TopKOracle(probeId: Long, k: Int, centroidMod: Long = 25L,
                     nprobe: Int = 2, numCentroids: Int = IvfNumCentroids,
                     coarseStride: Long = 4L, numCoarse: Int = 4,
                     nprobe1: Int = 2): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |              WHERE vec_id % $centroidMod = 0
       |                AND vec_id < ${centroidMod * numCentroids}),
       |coarse AS (SELECT cid AS gid, cemb AS gemb FROM cent
       |           WHERE cid % ${centroidMod * coarseStride} = 0
       |             AND cid < ${centroidMod * coarseStride * numCoarse}),
       |f2c AS (SELECT cid, gid FROM (
       |          SELECT c.cid, g.gid,
       |                 row_number() OVER (PARTITION BY c.cid
       |                   ORDER BY ${cosineSql("c.cemb", "g.gemb")} DESC, g.gid) AS rn
       |          FROM cent c CROSS JOIN coarse g)
       |        WHERE rn = 1),
       |probe AS (SELECT embedding AS pemb FROM embeddings WHERE vec_id = $probeId),
       |pg AS (SELECT gid FROM coarse CROSS JOIN probe
       |       ORDER BY ${cosineSql("gemb", "pemb")} DESC, gid LIMIT $nprobe1),
       |pc AS (SELECT cid AS cell FROM cent JOIN f2c USING (cid)
       |       JOIN pg USING (gid) CROSS JOIN probe
       |       ORDER BY ${cosineSql("cemb", "pemb")} DESC, cid LIMIT $nprobe),
       |ac AS (SELECT e.vec_id, c.cid,
       |              ${cosineSql("e.embedding", "c.cemb")} AS ccos
       |       FROM embeddings e CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid AS cell FROM ac
       |           QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                      ORDER BY ccos DESC, cid) = 1),
       |cand AS (SELECT a.vec_id FROM assign a JOIN pc USING (cell)
       |         WHERE a.vec_id <> $probeId)
       |SELECT e.vec_id, e.label,
       |       round(${cosineSql("e.embedding", "p.pemb")}, 4) AS cosine_sim
       |FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN probe p
       |ORDER BY cosine_sim DESC, e.vec_id
       |LIMIT $k""".stripMargin

  /** Recall@k of the two-level path vs exact — the coarse level's recall
    * trade, measured (the nprobe1/C1 knob's analogue of ivfRecall). */
  def ivf2Recall(spark: SparkSession, dir: String, probeId: Long, k: Int,
                 nprobe: Int = 2): DataFrame = {
    val exact = cosineTopK(spark, dir, probeId, k).select(col("vec_id"))
    val approx = ivf2TopK(spark, dir, probeId, k, nprobe = nprobe)
      .select(col("vec_id").as("a_id"))
    exact.join(broadcast(approx), col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k_exact"), count(col("a_id")).as("hits"))
      .withColumn("recall",
        col("hits").cast("double") / col("k_exact").cast("double"))
      .orderBy(col("k_exact"))
  }

  def ivf2RecallOracle(probeId: Long, k: Int, nprobe: Int = 2): String =
    s"""SELECT count(*) AS k_exact, count(a.a_id) AS hits,
       |       count(a.a_id)::DOUBLE / count(*)::DOUBLE AS recall
       |FROM (${cosineTopKOracle(probeId, k)}) e
       |LEFT JOIN (SELECT vec_id AS a_id FROM (${ivf2TopKOracle(probeId, k, nprobe = nprobe)})) a
       |  ON e.vec_id = a.a_id
       |ORDER BY k_exact""".stripMargin

  // ------------------------- two-level BUILD assignment (round 11)

  /** TWO-LEVEL cell assignment — the build-side escalation the round-11
    * build rehearsal's written finding calls for: under the ncells ∝ N
    * policy the flat vector×codebook assignment is N×C = O(N²/cellSize)
    * work (measured 3.3 s → 25.2 s per 10× at the replicas). Quantize the
    * ASSIGNMENT exactly as [[ivf2ProbeCells]] quantizes the probe-cell
    * selection: each vector ranks the C1 coarse reps (N×C1), keeps its
    * `nprobe1` best groups, and takes the argmax-cosine fine centroid
    * among ONLY those groups' members (N×nprobe1·C/C1 expected) —
    * O(N·√C) total at the balanced C1 ≈ √C. The assignment is
    * APPROXIMATE: a vector whose true nearest fine centroid lives outside
    * its top-nprobe1 coarse groups lands in its best within-group cell
    * instead — the standard multi-index trade, and BOTH the agreement
    * rate ([[ivf2AssignAgreement]], gated) and the degenerate exactness
    * (nprobe1 = numCoarse reproduces [[cellAssignment]] bit-for-bit,
    * spec-pinned) keep it a measured number, never an assertion. */
  private[graft] def cellAssignment2(e: DataFrame, fine: DataFrame,
                                     centroidMod: Long, coarseStride: Long,
                                     numCoarse: Int, nprobe1: Int): DataFrame = {
    val coarse = coarseReps(fine, centroidMod, coarseStride, numCoarse)
    val f2c = fineToCoarse(fine, coarse)
    val gW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("gc").desc, col("gid"))
    val vecGroups = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("embedding"), col("gid"),
        cosine(col("embedding"), col("gemb")).as("gc"))
      .withColumn("grn", row_number().over(gW)).filter(col("grn") <= nprobe1)
      .select(col("vec_id"), col("embedding"), col("gid"))
    val groupFine = fine.join(broadcast(f2c), "cid")
    vecGroups.join(broadcast(groupFine), "gid")
      .select(col("vec_id"),
        struct(cosine(col("embedding"), col("cemb")).as("c"),
          (-col("cid")).as("nc")).as("sc"))
      .groupBy(col("vec_id")).agg(max(col("sc")).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cell"))
  }

  /** Write-once IVF index built with the TWO-LEVEL assignment — same
    * cell-partitioned layout and frozen-codebook lifecycle as
    * [[ensureIvfIndex]]; the assignment quantization parameters join the
    * cut parameters in the artifact IDENTITY (the champion precedent), so
    * a flat-assigned build can never serve a two-level read. Append
    * stays exact by the same row-local law (assignment of a batch under
    * frozen codebooks is independent of the standing corpus). */
  def ensureIvf2AssignedIndex(spark: SparkSession, dir: String, e: DataFrame,
                              fine: DataFrame, centroidMod: Long,
                              numCentroids: Int, coarseStride: Long,
                              numCoarse: Int, nprobe1: Int,
                              version: Int = 1): String =
    graft.Materialize.ensure(spark,
      s"graft_ivf2a_m${centroidMod}_c${numCentroids}_g${coarseStride}x${numCoarse}n$nprobe1",
      dir, version) { p =>
      e.join(cellAssignment2(e, fine, centroidMod, coarseStride, numCoarse,
          nprobe1), "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(p)
    }

  /** The served top-k over the two-level-ASSIGNED index, probed by the
    * SAME two-level selection rule — build and query must quantize
    * consistently or the probe looks for vectors where the build never
    * put them. Everything else is the [[ivf2BucketedTopK]] pruned-read
    * tail. Own mirroring oracle (the assignment rule is expressible in
    * SQL); what the quantized assignment costs vs the flat one is
    * [[ivf2AssignAgreement]]'s number. */
  def ivf2AssignedTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
                       centroidMod: Long = 25L, nprobe: Int = 2,
                       numCentroids: Int = IvfNumCentroids,
                       coarseStride: Long = 4L, numCoarse: Int = 4,
                       nprobe1: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val fine = centroids(e, centroidMod, numCentroids)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val probeCells = ivf2ProbeCells(fine, probe, centroidMod,
      coarseStride, numCoarse, nprobe1, nprobe)
    val path = ensureIvf2AssignedIndex(spark, dir, e, fine, centroidMod,
      numCentroids, coarseStride, numCoarse, nprobe1)
    exactRerank(Tables.parquet(spark, path).join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId), probe, k)
  }

  def ivf2AssignedTopKOracle(probeId: Long, k: Int, centroidMod: Long = 25L,
                             nprobe: Int = 2,
                             numCentroids: Int = IvfNumCentroids,
                             coarseStride: Long = 4L, numCoarse: Int = 4,
                             nprobe1: Int = 2): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |              WHERE vec_id % $centroidMod = 0
       |                AND vec_id < ${centroidMod * numCentroids}),
       |coarse AS (SELECT cid AS gid, cemb AS gemb FROM cent
       |           WHERE cid % ${centroidMod * coarseStride} = 0
       |             AND cid < ${centroidMod * coarseStride * numCoarse}),
       |f2c AS (SELECT cid, gid FROM (
       |          SELECT c.cid, g.gid,
       |                 row_number() OVER (PARTITION BY c.cid
       |                   ORDER BY ${cosineSql("c.cemb", "g.gemb")} DESC, g.gid) AS rn
       |          FROM cent c CROSS JOIN coarse g)
       |        WHERE rn = 1),
       |probe AS (SELECT embedding AS pemb FROM embeddings WHERE vec_id = $probeId),
       |pg AS (SELECT gid FROM coarse CROSS JOIN probe
       |       ORDER BY ${cosineSql("gemb", "pemb")} DESC, gid LIMIT $nprobe1),
       |pc AS (SELECT cid AS cell FROM cent JOIN f2c USING (cid)
       |       JOIN pg USING (gid) CROSS JOIN probe
       |       ORDER BY ${cosineSql("cemb", "pemb")} DESC, cid LIMIT $nprobe),
       |vg AS (SELECT vec_id, gid FROM (
       |         SELECT e.vec_id, g.gid,
       |                row_number() OVER (PARTITION BY e.vec_id
       |                  ORDER BY ${cosineSql("e.embedding", "g.gemb")} DESC, g.gid) AS grn
       |         FROM embeddings e CROSS JOIN coarse g)
       |       WHERE grn <= $nprobe1),
       |assign2 AS (SELECT vec_id, cid AS cell FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id
       |                  ORDER BY ${cosineSql("e.embedding", "c.cemb")} DESC, c.cid) AS rn
       |         FROM vg v JOIN f2c f USING (gid)
       |         JOIN cent c ON c.cid = f.cid
       |         JOIN embeddings e ON e.vec_id = v.vec_id)
       |       WHERE rn = 1),
       |cand AS (SELECT a.vec_id FROM assign2 a JOIN pc USING (cell)
       |         WHERE a.vec_id <> $probeId)
       |SELECT e.vec_id, e.label,
       |       round(${cosineSql("e.embedding", "p.pemb")}, 4) AS cosine_sim
       |FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN probe p
       |ORDER BY cosine_sim DESC, e.vec_id
       |LIMIT $k""".stripMargin

  /** Recall@k of the two-level-BUILT index vs exact — what a CALLER
    * experiences over the dispatched build (round 12; the agreement
    * instrument below measures assignment drift, but a disagreeing
    * vector costs recall only when a probe covers its flat cell and not
    * its assigned one — this row measures that end number directly,
    * closing the loop on the build-side admission control: the budget
    * buys a 2.5× build speedup whose serving price is THIS recall,
    * recorded next to the agreement curve in SCALE.md). */
  def ivf2AssignedRecall(spark: SparkSession, dir: String, probeId: Long,
                         k: Int, nprobe: Int = 2): DataFrame = {
    val exact = cosineTopK(spark, dir, probeId, k).select(col("vec_id"))
    val approx = ivf2AssignedTopK(spark, dir, probeId, k, nprobe = nprobe)
      .select(col("vec_id").as("a_id"))
    exact.join(broadcast(approx), col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k_exact"), count(col("a_id")).as("hits"))
      .withColumn("recall",
        col("hits").cast("double") / col("k_exact").cast("double"))
      .orderBy(col("k_exact"))
  }

  def ivf2AssignedRecallOracle(probeId: Long, k: Int, nprobe: Int = 2): String =
    s"""SELECT count(*) AS k_exact, count(a.a_id) AS hits,
       |       count(a.a_id)::DOUBLE / count(*)::DOUBLE AS recall
       |FROM (${cosineTopKOracle(probeId, k)}) e
       |LEFT JOIN (SELECT vec_id AS a_id
       |           FROM (${ivf2AssignedTopKOracle(probeId, k, nprobe = nprobe)})) a
       |  ON e.vec_id = a.a_id
       |ORDER BY k_exact""".stripMargin

  /** Agreement of the two-level assignment with the flat argmax — the
    * measured price of the O(N·√C) build (the recall-instrument
    * discipline applied to the build path): one row (n_vecs, n_agree,
    * agreement). */
  def ivf2AssignAgreement(spark: SparkSession, dir: String,
                          centroidMod: Long = 25L,
                          numCentroids: Int = IvfNumCentroids,
                          coarseStride: Long = 4L, numCoarse: Int = 4,
                          nprobe1: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val fine = centroids(e, centroidMod, numCentroids)
    val flat = cellAssignment(e, fine).select(col("vec_id"), col("cell"))
    val two = cellAssignment2(e, fine, centroidMod, coarseStride, numCoarse,
        nprobe1)
      .select(col("vec_id"), col("cell").as("cell2"))
    flat.join(two, "vec_id")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(when(col("cell") === col("cell2"), 1L).otherwise(0L))
          .cast("long").as("n_agree"))
      .select(col("n_vecs"), col("n_agree"),
        (col("n_agree").cast("double") / col("n_vecs").cast("double"))
          .as("agreement"))
  }

  def ivf2AssignAgreementOracle(centroidMod: Long = 25L,
                                numCentroids: Int = IvfNumCentroids,
                                coarseStride: Long = 4L, numCoarse: Int = 4,
                                nprobe1: Int = 2): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |              WHERE vec_id % $centroidMod = 0
       |                AND vec_id < ${centroidMod * numCentroids}),
       |coarse AS (SELECT cid AS gid, cemb AS gemb FROM cent
       |           WHERE cid % ${centroidMod * coarseStride} = 0
       |             AND cid < ${centroidMod * coarseStride * numCoarse}),
       |f2c AS (SELECT cid, gid FROM (
       |          SELECT c.cid, g.gid,
       |                 row_number() OVER (PARTITION BY c.cid
       |                   ORDER BY ${cosineSql("c.cemb", "g.gemb")} DESC, g.gid) AS rn
       |          FROM cent c CROSS JOIN coarse g)
       |        WHERE rn = 1),
       |flat AS (SELECT vec_id, cid AS cell FROM (
       |          SELECT e.vec_id, c.cid,
       |                 row_number() OVER (PARTITION BY e.vec_id
       |                   ORDER BY ${cosineSql("e.embedding", "c.cemb")} DESC, c.cid) AS rn
       |          FROM embeddings e CROSS JOIN cent c)
       |        WHERE rn = 1),
       |vg AS (SELECT vec_id, gid FROM (
       |         SELECT e.vec_id, g.gid,
       |                row_number() OVER (PARTITION BY e.vec_id
       |                  ORDER BY ${cosineSql("e.embedding", "g.gemb")} DESC, g.gid) AS grn
       |         FROM embeddings e CROSS JOIN coarse g)
       |       WHERE grn <= $nprobe1),
       |assign2 AS (SELECT vec_id, cid AS cell FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id
       |                  ORDER BY ${cosineSql("e.embedding", "c.cemb")} DESC, c.cid) AS rn
       |         FROM vg v JOIN f2c f USING (gid)
       |         JOIN cent c ON c.cid = f.cid
       |         JOIN embeddings e ON e.vec_id = v.vec_id)
       |       WHERE rn = 1)
       |SELECT count(*)::BIGINT AS n_vecs,
       |       sum(CASE WHEN f.cell = a.cell THEN 1 ELSE 0 END)::BIGINT AS n_agree,
       |       sum(CASE WHEN f.cell = a.cell THEN 1 ELSE 0 END)::DOUBLE
       |         / count(*)::DOUBLE AS agreement
       |FROM flat f JOIN assign2 a USING (vec_id)""".stripMargin

  /** The fixed-size deterministic codebook: every `centroidMod`-th vector,
    * capped at `numCentroids` — C never scales with N. FROZEN under
    * appends: the id cap (`centroidMod * numCentroids`) means later batches
    * (monotonically higher vec_ids) can never join the codebook, so
    * existing cell assignments stay valid when new vectors append. */
  private[graft] def centroids(e: DataFrame, centroidMod: Long, numCentroids: Int): DataFrame =
    e.filter(col("vec_id") % centroidMod === 0 &&
        col("vec_id") < centroidMod * numCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))

  /** Cell assignment (vec_id → nearest centroid), the ingest-time product
    * that `ivfBucketedTopK` materializes partitioned by cell. */
  private[graft] def cellAssignment(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        struct(graft.functions.VectorFunctions.cosineF(col("embedding"), col("cemb")).as("c"),
          (-col("cid")).as("nc")).as("sc"))
      .groupBy(col("vec_id")).agg(max(col("sc")).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cell"))

  /** The IVF index (at scale built at ingest): vectors cell-assigned
    * against the frozen codebook `cent` and written partitioned by cell;
    * the codebook parameters key the artifact. Appendable — a new vector
    * batch is assigned against the SAME codebook into the existing cell
    * directories — because assignment is row-local given a frozen
    * codebook: assign(corpus ∪ batch) == assign(corpus) ∪ assign(batch).
    * Cell skew accumulates batch-by-batch until a retrain (new codebook =
    * version bump = full rebuild), the standard IVF lifecycle; compaction
    * rewrites each cell's accumulated files into one file set per cell
    * (IncrementalIndexSpec pins append == rebuild and compact == rebuild). */
  def ivfIndex(cent: DataFrame, centroidMod: Long, numCentroids: Int): graft.Artifact =
    graft.Artifact(s"graft_ivf_m${centroidMod}_c$numCentroids", 1,
      e => e.join(cellAssignment(e, cent), "vec_id"), graft.Artifact.Cells,
      _.repartition(col("cell")))

  /** [[ivfIndex]] ensured over `e`; returns the artifact path. */
  def ensureIvfIndex(spark: SparkSession, dir: String, e: DataFrame, cent: DataFrame,
                     centroidMod: Long, numCentroids: Int): String =
    graft.Materialize.ensure(spark, ivfIndex(cent, centroidMod, numCentroids), dir, e)

  /** The materialized IVF index path: cell assignment written ONCE as
    * cell-partitioned parquet (the ingest-time index build), then the query
    * reads ONLY the `nprobe` probed cells' partitions — directory-level
    * partition pruning via dynamic partition pruning on the broadcast
    * probe-cells join. Same results as `ivfTopK` (one oracle gates both);
    * the physical difference is the read: nprobe/C of the index instead of
    * a full scan. This is the 100 TB shape: the index build is a one-time
    * linear job, every query is a pruned read. */
  def ivfBucketedTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
                      centroidMod: Long = 25L, nprobe: Int = 2,
                      numCentroids: Int = IvfNumCentroids): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = centroids(e, centroidMod, numCentroids)
    val indexPath = ensureIvfIndex(spark, dir, e, cent, centroidMod, numCentroids)
    val bucketed = Tables.parquet(spark, indexPath)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val probeCells = ivfProbeCells(cent, probe, nprobe)
    exactRerank(bucketed.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId), probe, k)
  }

  /** The embeddings row count of `dir` at `listing` (its [[graft.Memo.listing]]),
    * [[graft.Memo]]ized: one count job per listing, shared by the auto-sized
    * IVF read and the ANN model. */
  private def embeddingsCount(spark: SparkSession, dir: String, listing: Seq[String]): Long =
    graft.Memo(("embeddings count", dir), listing)(Tables.embeddings(spark, dir).count())

  /** Build-work budget for the default IVF ensure path, in vector×centroid
    * cosine evaluations — the build-side admission control the query-side
    * families already have (round 12; the round-11 rehearsal measured the
    * wall, this dispatches past it). Under the ncells ∝ N policy the flat
    * assignment is N·C = O(N²/cellSize): measured 3.3 s at the 10×
    * replica (20k vecs × 160 cells = 3.2M ops) but 25.2 s at 100×
    * (200k × 1,600 = 320M ops), where the two-level O(N·√C) assignment
    * builds the same layout in 10.1 s (SCALE.md §build-rehearsal). The
    * budget sits between those measured points: every gate corpus and the
    * 10× replica stay on the EXACT flat assignment (the oracle-gated
    * default), and the 100× replica dispatches to the two-level build
    * without hand-selection. */
  val IvfAssignBudget = 32000000L

  /** Ensure-time dispatch rule: predicted assignment work is N·C — both
    * known before any job runs (N from the construction-time count memo,
    * C from the ncells derivation), so unlike the pair-join families no
    * stats artifact is even needed. None = exact flat assignment; Some
    * ((numCoarse, nprobe1)) = the two-level quantized assignment at the
    * balanced coarse count C1 ≈ √C and the measured quarter-coverage
    * probe width (the recommended point of the build sweep, SCALE.md
    * §Build-path rehearsal). */
  def ivfBuildPlan(n: Long, numCentroids: Int,
                   budget: Long = IvfAssignBudget): Option[(Int, Int)] =
    if (n * numCentroids <= budget) None
    else {
      val numCoarse = math.max(4, math.sqrt(numCentroids.toDouble).round.toInt)
      Some((numCoarse, math.max(2, numCoarse / 4)))
    }

  /** The dispatched DEFAULT build: flat below budget, two-level above.
    * Either way the chosen parameters are part of the artifact KIND (the
    * champion precedent), so a flat-assigned artifact can never serve a
    * two-level read or vice versa. Returns the path and the dispatch. */
  def ensureIvfIndexAuto(spark: SparkSession, dir: String, e: DataFrame,
                         cent: DataFrame, centroidMod: Long,
                         numCentroids: Int, n: Long,
                         budget: Long = IvfAssignBudget,
                         version: Int = 1): (String, Option[(Int, Int)]) =
    ivfBuildPlan(n, numCentroids, budget) match {
      case None =>
        (graft.Materialize.ensure(spark,
          ivfIndex(cent, centroidMod, numCentroids).copy(version = version), dir, e), None)
      case plan @ Some((numCoarse, nprobe1)) =>
        (ensureIvf2AssignedIndex(spark, dir, e, cent, centroidMod,
          numCentroids, 4L, numCoarse, nprobe1, version), plan)
    }

  /** The AUTO-sized served IVF read — the ncells growth policy wired
    * instead of hand-tuned: the codebook size derives from the corpus
    * count at ensure time (cells ≈ N/[[IvfTargetCellSize]]), and the
    * artifact kind already carries the derived parameter (the
    * champion-index parameter-in-kind precedent), so a corpus that grew
    * past the next cell boundary re-keys and REBUILDS rather than
    * serving a stale codebook size. At every gate corpus the derivation
    * lands on the anchor 16, so the fixed-ncells oracle gates this row
    * unchanged; OperatorParitySpec pins that equality explicitly plus
    * the derived values at the replica counts, and SCALE.md §ncells
    * growth measured records flat probed rows at the derived sizes
    * without hand-tuning. The count() is one metadata-bounded job per build —
    * at 100 TB it rides the same ingest pass that writes the index. */
  def ivfBucketedTopKAuto(spark: SparkSession, dir: String, probeId: Long,
                          k: Int, centroidMod: Long = 25L,
                          nprobe: Int = 2,
                          budget: Long = IvfAssignBudget): DataFrame = {
    val n = embeddingsCount(spark, dir, graft.Memo.listing(spark, dir))
    val ncells = autoNumCentroids(n)
    // the serving probe rule must match how the BUILD quantized: the
    // flat-assigned index is probed flat, the two-level-assigned index by
    // the same two-level selection (ivf2AssignedTopK ensures the same
    // auto kind, so no double build)
    ivfBuildPlan(n, ncells, budget) match {
      case None =>
        ivfBucketedTopK(spark, dir, probeId, k, centroidMod, nprobe, ncells)
      case Some((numCoarse, nprobe1)) =>
        ivf2AssignedTopK(spark, dir, probeId, k, centroidMod, nprobe,
          ncells, 4L, numCoarse, nprobe1)
    }
  }

  /** Probe-set stride for the batch ANN query. */
  val BatchProbeMod = 97L

  /** Probe BUDGET for the recall instruments (round 11 — the measurement
    * needs a scale story too): every batch-recall row computes exact
    * ground truth by a corpus × probes crossJoin, so with the stride
    * alone the instrument's own cost is N²/BatchProbeMod — quadratic.
    * The budget takes the first [[RecallProbeCap]] probes of the stride
    * (deterministic id prefix, the centroid-sample convention), bounding
    * ground truth at RecallProbeCap·N — linear in the corpus forever.
    * Sampled probes ARE the contract: recall is an estimate whose probe
    * count is now explicit in the instrument signature, not an accident
    * of corpus size. At every gate corpus the cap exceeds the stride's
    * yield, so the gated rows are unchanged (the oracle carries the same
    * predicate). */
  val RecallProbeCap = 64L

  /** BATCH IVF top-k — ANN for a probe TABLE in one plan (the single-probe
    * forms above answer one vector per invocation): probe cells resolve as
    * probes × constant-C codebook (tiny cross product) with a per-probe
    * window rank, candidates come from the same cell assignment relation
    * by an equi-join on the cell key, and the exact re-rank is a per-probe
    * window top-k over only the probed cells' vectors. Every join is an
    * equi-join on a data-derived key; with the cell-partitioned index
    * (ivfBucketedTopK's materialization) the candidate read prunes to the
    * UNION of all probes' cells — batch embedding search at ingest-side
    * cost. */
  def ivfBatchTopK(spark: SparkSession, dir: String, k: Int,
                   centroidMod: Long = 25L, nprobe: Int = 2,
                   numCentroids: Int = IvfNumCentroids): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = centroids(e, centroidMod, numCentroids)
    val probes = e.filter(col("vec_id") % BatchProbeMod === 0)
      .select(col("vec_id").as("pid"), col("embedding").as("pemb"))
    ivfBatchTopKOver(probes,
      e.join(cellAssignment(e, cent).select(col("vec_id"), col("cell")), "vec_id"),
      cent, k, nprobe)
  }

  /** The IVF-probing batch pipeline over an ARBITRARY probe table
    * (`pid`, `pemb`) and an ARBITRARY cell-assigned relation (`vec_id`,
    * `label`, `embedding`, `cell`) — the core that `ivfBatchTopK` (fixed
    * derived probes, inline assignment) runs and StreamingSpec runs per
    * micro-batch of probes against the MATERIALIZED cell-partitioned
    * index. Probe cells resolve as probes × constant-C codebook
    * with a per-probe window rank; candidates come from an equi-join on
    * the cell key (with the partitioned index, broadcast `probeCells`
    * drives partition pruning to the union of probed cells). */
  def ivfBatchTopKOver(probes: DataFrame, indexed: DataFrame, cent: DataFrame,
                       k: Int, nprobe: Int): DataFrame = {
    val pcW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("pc").desc, col("cid"))
    val probeCells = cent.crossJoin(broadcast(probes))
      .select(col("pid"), col("cid"), cosine(col("cemb"), col("pemb")).as("pc"))
      .withColumn("prn", row_number().over(pcW)).filter(col("prn") <= nprobe)
      .select(col("pid"), col("cid").as("cell"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cosine_sim").desc, col("vec_id"))
    indexed.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("pid"))
      .join(broadcast(probes), "pid")
      .select(col("pid").as("probe_id"), col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("pemb")), 4).as("cosine_sim"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("label"),
        col("cosine_sim"))
      .orderBy(col("probe_id"), col("rank"))
  }

  def ivfBatchTopKOracle(k: Int, centroidMod: Long = 25L, nprobe: Int = 2,
                         numCentroids: Int = IvfNumCentroids): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |              WHERE vec_id % $centroidMod = 0
       |                AND vec_id < ${centroidMod * numCentroids}),
       |ac AS (SELECT e.vec_id, c.cid,
       |              ${cosineSql("e.embedding", "c.cemb")} AS ccos
       |       FROM embeddings e CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid AS cell FROM ac
       |           QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                      ORDER BY ccos DESC, cid) = 1),
       |probes AS (SELECT vec_id AS pid, embedding AS pemb FROM embeddings
       |           WHERE vec_id % $BatchProbeMod = 0),
       |pc AS (SELECT p.pid, c.cid, ${cosineSql("c.cemb", "p.pemb")} AS pcos
       |       FROM cent c CROSS JOIN probes p),
       |cells AS (SELECT pid, cid AS cell FROM pc
       |          QUALIFY row_number() OVER (PARTITION BY pid
       |                                     ORDER BY pcos DESC, cid) <= $nprobe),
       |cand AS (SELECT cl.pid, a.vec_id FROM assign a JOIN cells cl USING (cell)
       |         WHERE a.vec_id <> cl.pid),
       |scored AS (SELECT cand.pid AS probe_id, e.vec_id, e.label,
       |                  round(${cosineSql("e.embedding", "p.pemb")}, 4) AS cosine_sim
       |           FROM embeddings e
       |           JOIN cand ON e.vec_id = cand.vec_id
       |           JOIN probes p ON p.pid = cand.pid)
       |SELECT probe_id,
       |       row_number() OVER (PARTITION BY probe_id
       |                          ORDER BY cosine_sim DESC, vec_id)::BIGINT AS rank,
       |       vec_id, label, cosine_sim
       |FROM scored
       |QUALIFY rank <= $k
       |ORDER BY probe_id, rank""".stripMargin

  /** Recall@k of the IVF path against the exact brute-force top-k — the
    * measured quality trade behind nprobe/C tuning ("measure, don't
    * guess"): k_exact rows of ground truth, hits = how many the IVF
    * answer recovered. Exact integer counts → the recall division is
    * bit-identical on both engines unrounded. */
  def ivfRecall(spark: SparkSession, dir: String, probeId: Long, k: Int,
                centroidMod: Long = 25L, nprobe: Int = 2,
                numCentroids: Int = IvfNumCentroids): DataFrame = {
    val exact = cosineTopK(spark, dir, probeId, k).select(col("vec_id"))
    val approx = ivfTopK(spark, dir, probeId, k, centroidMod, nprobe, numCentroids)
      .select(col("vec_id").as("a_id"))
    exact.join(broadcast(approx), col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k_exact"), count(col("a_id")).as("hits"))
      .withColumn("recall",
        col("hits").cast("double") / col("k_exact").cast("double"))
      .orderBy(col("k_exact"))
  }

  def ivfRecallOracle(probeId: Long, k: Int, centroidMod: Long = 25L,
                      nprobe: Int = 2, numCentroids: Int = IvfNumCentroids): String =
    s"""SELECT count(*) AS k_exact, count(a.a_id) AS hits,
       |       count(a.a_id)::DOUBLE / count(*)::DOUBLE AS recall
       |FROM (${cosineTopKOracle(probeId, k)}) e
       |LEFT JOIN (SELECT vec_id AS a_id FROM (${ivfTopKOracle(probeId, k, centroidMod, nprobe, numCentroids)})) a
       |  ON e.vec_id = a.a_id
       |ORDER BY k_exact""".stripMargin

  /** `autoCells = true` derives the centroid count in SQL exactly as
    * [[autoNumCentroids]] does (greatest(C_min, n // targetCellSize)) —
    * the twin of [[ivfBucketedTopKAuto]]'s ncells policy. The fixed-count
    * spelling and the derived one coincide at every gate corpus; the
    * round-13 sf1 dress rehearsal caught the auto row diverging (operator
    * probing 2 of 160 derived cells, oracle 2 of the fixed 16). */
  def ivfTopKOracle(probeId: Long, k: Int, centroidMod: Long = 25L,
                    nprobe: Int = 2, numCentroids: Int = IvfNumCentroids,
                    autoCells: Boolean = false): String = {
    val cellBound =
      if (autoCells)
        s"$centroidMod * (SELECT greatest($IvfNumCentroids, count(*) // $IvfTargetCellSize) FROM embeddings)"
      else s"${centroidMod * numCentroids}"
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |              WHERE vec_id % $centroidMod = 0
       |                AND vec_id < $cellBound),
       |ac AS (SELECT e.vec_id, c.cid,
       |              ${cosineSql("e.embedding", "c.cemb")} AS ccos
       |       FROM embeddings e CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid AS cell FROM ac
       |           QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                      ORDER BY ccos DESC, cid) = 1),
       |probe AS (SELECT embedding AS pemb FROM embeddings WHERE vec_id = $probeId),
       |pc AS (SELECT c.cid, ${cosineSql("c.cemb", "p.pemb")} AS pcos
       |       FROM cent c CROSS JOIN probe p),
       |cells AS (SELECT cid AS cell FROM pc ORDER BY pcos DESC, cid LIMIT $nprobe),
       |cand AS (SELECT a.vec_id FROM assign a JOIN cells USING (cell)
       |         WHERE a.vec_id <> $probeId)
       |SELECT e.vec_id, e.label,
       |       round(${cosineSql("e.embedding", "p.pemb")}, 4) AS cosine_sim
       |FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN probe p
       |ORDER BY cosine_sim DESC, e.vec_id
       |LIMIT $k""".stripMargin
  }

  /** DuckDB twin of [[ivfBucketedTopKAuto]]'s FULL dispatch — the round-13
    * lesson (an oracle must DERIVE what the operator derives) applied one
    * rung up: `ivfTopKOracle(autoCells = true)` derives ncells but always
    * models the flat build, while the operator dispatches to the
    * two-level assignment once n·ncells exceeds [[IvfAssignBudget]]
    * (~63k vectors under the n/125 cell policy) — the same
    * scale-coincidence class the autoCells fix closed would have
    * reappeared at the next decade. This oracle derives n, ncells,
    * numCoarse = max(4, round(√ncells)) and nprobe1 = max(2, numCoarse/4)
    * in SQL and guards a flat branch and a two-level branch on the SAME
    * n·ncells ≤ budget predicate the operator evaluates
    * ([[ivfBuildPlan]]), so the gate checks the dispatch itself at any
    * corpus size. */
  def ivfTopKAutoOracle(probeId: Long, k: Int, centroidMod: Long = 25L,
                        nprobe: Int = 2,
                        budget: Long = IvfAssignBudget): String = {
    val coarseStride = 4L
    s"""WITH plan AS (
       |  SELECT n, ncells,
       |         greatest(2, ncoarse // 4) AS np1,
       |         $centroidMod * ncells AS cell_bound,
       |         $centroidMod * $coarseStride * ncoarse AS coarse_bound,
       |         (n * ncells <= $budget) AS flat
       |  FROM (SELECT n, ncells,
       |               greatest(4, CAST(round(sqrt(ncells::DOUBLE)) AS BIGINT)) AS ncoarse
       |        FROM (SELECT n, greatest($IvfNumCentroids, n // $IvfTargetCellSize) AS ncells
       |              FROM (SELECT count(*)::BIGINT AS n FROM embeddings)))),
       |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |         WHERE vec_id % $centroidMod = 0
       |           AND vec_id < (SELECT cell_bound FROM plan)),
       |probe AS (SELECT embedding AS pemb FROM embeddings WHERE vec_id = $probeId),
       |-- flat branch: exact per-vector argmax assignment (ivfTopKOracle)
       |f_ac AS (SELECT e.vec_id, c.cid,
       |                ${cosineSql("e.embedding", "c.cemb")} AS ccos
       |         FROM embeddings e CROSS JOIN cent c
       |         WHERE (SELECT flat FROM plan)),
       |f_assign AS (SELECT vec_id, cid AS cell FROM f_ac
       |             QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                        ORDER BY ccos DESC, cid) = 1),
       |f_pc AS (SELECT c.cid, ${cosineSql("c.cemb", "p.pemb")} AS pcos
       |         FROM cent c CROSS JOIN probe p
       |         WHERE (SELECT flat FROM plan)),
       |f_cells AS (SELECT cid AS cell FROM f_pc ORDER BY pcos DESC, cid LIMIT $nprobe),
       |f_cand AS (SELECT a.vec_id FROM f_assign a JOIN f_cells USING (cell)
       |           WHERE a.vec_id <> $probeId),
       |-- two-level branch: quantized assignment at the derived
       |-- (numCoarse, nprobe1) plan (ivf2AssignedTopKOracle with the
       |-- constants replaced by plan-CTE scalars)
       |coarse AS (SELECT cid AS gid, cemb AS gemb FROM cent
       |           WHERE cid % ${centroidMod * coarseStride} = 0
       |             AND cid < (SELECT coarse_bound FROM plan)
       |             AND NOT (SELECT flat FROM plan)),
       |f2c AS (SELECT cid, gid FROM (
       |          SELECT c.cid, g.gid,
       |                 row_number() OVER (PARTITION BY c.cid
       |                   ORDER BY ${cosineSql("c.cemb", "g.gemb")} DESC, g.gid) AS rn
       |          FROM cent c CROSS JOIN coarse g)
       |        WHERE rn = 1),
       |pg AS (SELECT gid FROM (
       |         SELECT gid,
       |                row_number() OVER (
       |                  ORDER BY ${cosineSql("gemb", "pemb")} DESC, gid) AS rn
       |         FROM coarse CROSS JOIN probe)
       |       WHERE rn <= (SELECT np1 FROM plan)),
       |pc AS (SELECT cid AS cell FROM cent JOIN f2c USING (cid)
       |       JOIN pg USING (gid) CROSS JOIN probe
       |       ORDER BY ${cosineSql("cemb", "pemb")} DESC, cid LIMIT $nprobe),
       |vg AS (SELECT vec_id, gid FROM (
       |         SELECT e.vec_id, g.gid,
       |                row_number() OVER (PARTITION BY e.vec_id
       |                  ORDER BY ${cosineSql("e.embedding", "g.gemb")} DESC, g.gid) AS grn
       |         FROM embeddings e CROSS JOIN coarse g)
       |       WHERE grn <= (SELECT np1 FROM plan)),
       |assign2 AS (SELECT vec_id, cid AS cell FROM (
       |         SELECT v.vec_id, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id
       |                  ORDER BY ${cosineSql("e.embedding", "c.cemb")} DESC, c.cid) AS rn
       |         FROM vg v JOIN f2c f USING (gid)
       |         JOIN cent c ON c.cid = f.cid
       |         JOIN embeddings e ON e.vec_id = v.vec_id)
       |       WHERE rn = 1),
       |t_cand AS (SELECT a.vec_id FROM assign2 a JOIN pc USING (cell)
       |           WHERE a.vec_id <> $probeId),
       |cand AS (SELECT vec_id FROM f_cand UNION ALL SELECT vec_id FROM t_cand)
       |SELECT e.vec_id, e.label,
       |       round(${cosineSql("e.embedding", "p.pemb")}, 4) AS cosine_sim
       |FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN probe p
       |ORDER BY cosine_sim DESC, e.vec_id
       |LIMIT $k""".stripMargin
  }

  // -------------------------------------------------------------------- PQ

  /** Product-quantization parameters: 64-dim embeddings split into `PqM`
    * subspaces of `PqDim` dims, each quantized against a `PqK`-codeword
    * subspace codebook → a 16-byte code per vector (still 16× smaller
    * than the raw floats). Round 14 re-geometried the quantizer from
    * (M=8, K=16) after the ADC ranking was measured as the refine
    * ladder's real bottleneck (SCALE.md §ann-refine-sizing) — shortlist
    * recall at 26·k depth
    * with ALL cells probed: (8,16) 0.68 gate / 0.64 diversity replica;
    * (16,64) 0.98 / 1.00. Finer subspaces cut quantization error far
    * faster than codeword count alone ((8,256) measured 0.84 at the
    * replica — stride-sampled codebooks get noisier past ~64 codewords),
    * and the 2× code size is unchanged asymptotics. Artifact kinds carry
    * both parameters, so old-geometry artifacts can never serve a
    * new-geometry read. */
  val PqM = 16
  val PqDim = 4
  val PqK = 64

  /** Left-to-right squared-L2 fold — same operation order as the oracle's
    * `list_reduce` fold, so results are bit-identical cross-engine. */
  private[graft] def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Per-subspace PQ codebooks from the same deterministic constant-size
    * sample the IVF codebook uses: codeword (m, cid) = dims [m·PqDim,
    * (m+1)·PqDim) of sample vector cid. Output: (m, cid, cemb). At 100 TB
    * these are k-means-trained per subspace (KMeans.scala has the
    * trainer); the deterministic sample keeps the gate oracle-able and
    * the plan shape identical. */
  private[graft] def pqCodebooks(e: DataFrame, mod: Long): DataFrame =
    e.filter(col("vec_id") % mod === 0 && col("vec_id") < mod * PqK)
      .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col("m"), col("vec_id").as("cid"),
        slice(col("embedding"), col("m") * PqDim + 1, lit(PqDim))
          .cast("array<double>").as("cemb"))

  /** PQ encoding — the ingest-time product (like the IVF cell
    * assignment): per (vector, subspace), the nearest codeword by squared
    * L2, computed map-only against the ONE-ROW broadcast codebook array by
    * the native codegen kernel (all M codes in one eval — VectorKernelSpec
    * holds the interpreted composed spelling as the bit-parity twin). Ties →
    * smallest cid. Output: (vec_id, m, code) — at scale stored as an
    * M-byte column beside the doc, 32× smaller than the raw floats, which
    * is what makes the coarse scoring pass I/O-cheap at 100 TB. */
  private[graft] def pqEncode(e: DataFrame, books: DataFrame): DataFrame =
    pqCodesWide(e, books)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))

  /** One row per vector with the whole code array — the artifact shape. */
  private[graft] def pqCodesWide(e: DataFrame, books: DataFrame): DataFrame = {
    val bArr = books.agg(array_sort(collect_list(
      struct(col("m"), col("cid"), col("cemb")))).as("bk"))
    e.crossJoin(broadcast(bArr))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.pqEncodeF(
          col("embedding"), col("bk"), PqM, PqDim).as("codes"))
  }

  /** PQ-ADC approximate top-k — asymmetric distance computation, THE
    * standard compressed ANN scoring pass at 100 TB scale (IVF prunes
    * which cells are read, PQ shrinks what is read 32×): the probe builds
    * a (M × K)-entry lookup table of exact subspace distances to every
    * codeword (constant-size broadcast), and each encoded vector's
    * approximate distance is the sum of its M code lookups — no float
    * vector is touched after ingest. The per-vector sum folds an
    * m-sorted collected list (NOT a plain float sum aggregate), so the
    * result is bit-identical across engines and shippable unrounded.
    * Smallest approximate distance wins; ties break on vec_id. */
  def pqTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
             mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val books = pqCodebooks(e, mod)
    pqAdcTopK(pqEncode(e, books), books, e, probeId, k)
  }

  /** [[adcScore]] for one probe id: fetches the probe row from `e` and
    * drops it from `codes` — the inline, indexed and trained PQ spellings. */
  private[graft] def pqAdcTopK(codes: DataFrame, books: DataFrame, e: DataFrame,
                               probeId: Long, k: Int): DataFrame =
    adcScore(codes.filter(col("vec_id") =!= probeId), books, e,
      e.filter(col("vec_id") === probeId).select(col("embedding").as("pemb")), k)

  /** The PQ codes artifact — the ingest product: one row per vector, the
    * whole M-code array, vec_id-clustered. At 100 TB this is the 8-byte
    * column the coarse pass scans INSTEAD of the vectors. Encoding against
    * the frozen subspace codebooks `books` is row-local, so a new vector
    * batch appends as new files (IncrementalIndexSpec pins append ==
    * rebuild, same as postings/IVF). */
  def pqCodes(books: DataFrame): graft.Artifact =
    graft.Artifact(s"graft_pqcodes_m${PqM}k$PqK", 1, pqCodesWide(_, books),
      graft.Artifact.Clustered(Seq("vec_id"), Seq("vec_id"), build = 8, append = 2))

  /** PQ-ADC top-k over the MATERIALIZED codes artifact — identical
    * semantics to [[pqTopK]] (the shared oracle gates both); the query
    * reads only the code column, never the float vectors (except the
    * 1-row probe fetch and the final label fetch of k rows). */
  def pqTopKIndexed(spark: SparkSession, dir: String, probeId: Long, k: Int,
                    mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val books = pqCodebooks(e, mod)
    val codes = Tables.parquet(spark, graft.Materialize.ensure(spark, pqCodes(books), dir, e))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
    pqAdcTopK(codes, books, e, probeId, k)
  }

  /** IVF-PQ — the composed stack SCALE.md describes: IVF prunes WHICH
    * cells are read (nprobe/C of the corpus), PQ shrinks WHAT is read
    * (8-byte codes instead of 256-byte vectors). Candidates = the probed
    * cells' members (the same coarse assignment as `ivfTopK`); scoring =
    * the same ADC lookup-table sum as `pqTopK`, restricted to candidates.
    * At 100 TB the codes live beside the cell-partitioned index files, so
    * a query reads nprobe/C of an already-32×-smaller column. */
  def ivfPqTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
                centroidMod: Long = 25L, nprobe: Int = 2,
                numCentroids: Int = IvfNumCentroids, mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = centroids(e, centroidMod, numCentroids)
    val books = pqCodebooks(e, mod)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val probeCells = ivfProbeCells(cent, probe, nprobe)
    val cand = cellAssignment(e, cent).join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId).select("vec_id")
    adcScore(pqEncode(e, books).join(cand, "vec_id"), books, e, probe, k)
  }

  /** The one ADC scoring tail of every single-probe PQ form: LUT from the
    * one-row broadcast probe, lookup-sum per candidate folded over an
    * m-sorted list (bit-stable across engines), label fetch, top-k.
    * `codes` arrives already restricted to the candidates, the probe row
    * excluded. */
  private[graft] def adcScore(codes: DataFrame, books: DataFrame, e: DataFrame,
                              probe: DataFrame, k: Int): DataFrame = {
    val lut = books.crossJoin(broadcast(probe))
      .select(col("m"), col("cid").as("code"),
        l2sq(slice(col("pemb"), col("m") * PqDim + 1, lit(PqDim))
          .cast("array<double>"), col("cemb")).as("d"))
    codes.join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("d")))).as("ds"))
      .select(col("vec_id"),
        aggregate(col("ds"), lit(0.0), (acc, x) => acc + x("d")).as("pq_dist"))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"), col("pq_dist"))
      .orderBy(col("pq_dist"), col("vec_id"))
      .limit(k)
  }

  /** Two-level IVF + PQ — the composed 100 TB serving stack in one plan:
    * [[ivf2ProbeCells]] picks WHICH cells are read with O(√C) query-side
    * centroid work (the ncells ∝ N escalation), and the PQ-ADC lookup sum
    * scores WHAT is read (8-byte codes, 32× smaller than the vectors).
    * With nprobe1 = numCoarse the coarse level prunes nothing and the
    * result equals single-level [[ivfPqTopK]] EXACTLY (OperatorParitySpec
    * pins it); below that the coarse trade is the one `ann_ivf2_recall`
    * already measures — the PQ leg is unchanged. */
  def ivf2PqTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
                 centroidMod: Long = 25L, nprobe: Int = 2,
                 numCentroids: Int = IvfNumCentroids,
                 coarseStride: Long = 4L, numCoarse: Int = 4,
                 nprobe1: Int = 2, mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val fine = centroids(e, centroidMod, numCentroids)
    val books = pqCodebooks(e, mod)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val probeCells = ivf2ProbeCells(fine, probe, centroidMod,
      coarseStride, numCoarse, nprobe1, nprobe)
    val cand = cellAssignment(e, fine).join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId).select("vec_id")
    adcScore(pqEncode(e, books).join(cand, "vec_id"), books, e, probe, k)
  }

  /** CELL-PARTITIONED PQ codes — the artifact [[ivfPqTopK]]'s docstring
    * promises at 100 TB ("the codes live beside the cell-partitioned
    * index files"): one row per vector (vec_id, codes, cell), written
    * `partitionBy(cell)` like [[ivfIndex]], so a probed query reads
    * nprobe/C of an already-32×-smaller column with partition pruning —
    * never the float vectors. Encoding against the frozen subspace
    * codebooks and assignment against the frozen coarse codebook are both
    * row-local, so new batches append into the touched cell directories
    * exactly (IncrementalIndexSpec pins append == rebuild). */
  def ivfPqCodes(cent: DataFrame, books: DataFrame, centroidMod: Long,
                 numCentroids: Int): graft.Artifact =
    graft.Artifact(s"graft_ivfpq_m${centroidMod}_c${numCentroids}_m${PqM}k$PqK", 1,
      e => pqCodesWide(e, books).join(cellAssignment(e, cent), "vec_id"),
      graft.Artifact.Cells, _.repartition(col("cell")))

  /** The SERVED two-level IVF+PQ: [[ivf2ProbeCells]] selection (O(√C)
    * centroid work), then the nprobe cell directories of the
    * cell-partitioned codes artifact are the ONLY data read — a
    * DPP-pruned scan of 8-byte codes (PlanShapeSpec pins the pruning).
    * The float vectors are touched only for the 1-row probe fetch and
    * the k-row label join. Identical results to [[ivf2PqTopK]] (one
    * oracle gates both; OperatorParitySpec pins bit-equality). */
  def ivf2PqBucketedTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
                         centroidMod: Long = 25L, nprobe: Int = 2,
                         numCentroids: Int = IvfNumCentroids,
                         coarseStride: Long = 4L, numCoarse: Int = 4,
                         nprobe1: Int = 2, mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val fine = centroids(e, centroidMod, numCentroids)
    val books = pqCodebooks(e, mod)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val probeCells = ivf2ProbeCells(fine, probe, centroidMod,
      coarseStride, numCoarse, nprobe1, nprobe)
    val path = graft.Materialize.ensure(spark,
      ivfPqCodes(fine, books, centroidMod, numCentroids), dir, e)
    val codes = Tables.parquet(spark, path)
      .join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
    adcScore(codes, books, e, probe, k)
  }

  /** BATCH IVF-PQ — the ingest-side compressed scoring pass at 100 TB: a
    * whole probe TABLE answered against the cell-partitioned codes
    * artifact in one plan. Probe cells resolve per-probe exactly as
    * [[ivfBatchTopKOver]]; the (pid, cell) join against `graft_ivfpq`
    * yields candidates WITH their probe in one DPP-pruned read (union of
    * all probes' cells, 8-byte codes — never the float vectors); scoring
    * is the per-probe ADC LUT (P × M·K rows — broadcastable while the
    * probe batch is bounded, the standard batch-ADC shape) with the same
    * m-sorted bit-stable fold as [[adcScore]]. Per-probe rank by
    * (pq_dist, vec_id), so each probe's slice equals [[ivfPqTopK]] run
    * alone (OperatorParitySpec pins it). */
  def ivfPqBatchTopK(spark: SparkSession, dir: String, k: Int,
                     centroidMod: Long = 25L, nprobe: Int = 2,
                     numCentroids: Int = IvfNumCentroids,
                     mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = centroids(e, centroidMod, numCentroids)
    val books = pqCodebooks(e, mod)
    val probes = e.filter(col("vec_id") % BatchProbeMod === 0)
      .select(col("vec_id").as("pid"), col("embedding").as("pemb"))
    val path = graft.Materialize.ensure(spark,
      ivfPqCodes(cent, books, centroidMod, numCentroids), dir, e)
    ivfPqBatchTopKOver(probes, Tables.parquet(spark, path), cent, books,
      e.select(col("vec_id"), col("label")), k, nprobe)
  }

  /** The batch IVF-PQ pipeline over an ARBITRARY probe table (`pid`,
    * `pemb`) and an ARBITRARY cell-partitioned codes relation (`vec_id`,
    * `codes`, `cell`) — the core [[ivfPqBatchTopK]] (derived probes,
    * artifact read) runs and StreamingSpec runs per micro-batch of
    * probes; the [[ivfBatchTopKOver]] analogue for the compressed path. */
  def ivfPqBatchTopKOver(probes: DataFrame, codesRel: DataFrame,
                         cent: DataFrame, books: DataFrame,
                         labels: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val pcW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("pc").desc, col("cid"))
    val probeCells = cent.crossJoin(broadcast(probes))
      .select(col("pid"), col("cid"), cosine(col("cemb"), col("pemb")).as("pc"))
      .withColumn("prn", row_number().over(pcW)).filter(col("prn") <= nprobe)
      .select(col("pid"), col("cid").as("cell"))
    val codes = codesRel
      .join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
    val lut = books.crossJoin(broadcast(probes))
      .select(col("pid"), col("m"), col("cid").as("code"),
        l2sq(slice(col("pemb"), col("m") * PqDim + 1, lit(PqDim))
          .cast("array<double>"), col("cemb")).as("d"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("pq_dist"), col("vec_id"))
    codes.join(broadcast(lut), Seq("pid", "m", "code"))
      .groupBy(col("pid"), col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("d")))).as("ds"))
      .select(col("pid"), col("vec_id"),
        aggregate(col("ds"), lit(0.0), (acc, x) => acc + x("d")).as("pq_dist"))
      .join(labels, "vec_id")
      .select(col("pid").as("probe_id"), col("vec_id"), col("label"),
        col("pq_dist"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("label"),
        col("pq_dist"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Shared CTE prefix of the batch IVF-PQ oracles: codebooks, codes,
    * cell assignment, the probe stride, per-probe cells, candidates, and
    * the per-probe ADC distances (`padc`). */
  private def ivfPqBatchCtes(centroidMod: Long, nprobe: Int,
                             numCentroids: Int, mod: Long): String = {
    val lutDist = l2sqSql(i => s"p.pemb[b.m * $PqDim + $i]::DOUBLE", "b.cemb")
    s"""${pqSampleBooksCte(mod)},
       |$pqCodesCte,
       |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |         WHERE vec_id % $centroidMod = 0
       |           AND vec_id < ${centroidMod * numCentroids}),
       |ac AS (SELECT e.vec_id, c.cid,
       |              ${cosineSql("e.embedding", "c.cemb")} AS ccos
       |       FROM embeddings e CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid AS cell FROM ac
       |           QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                      ORDER BY ccos DESC, cid) = 1),
       |probes AS (SELECT vec_id AS pid, embedding AS pemb FROM embeddings
       |           WHERE vec_id % $BatchProbeMod = 0),
       |pc AS (SELECT p.pid, c.cid, ${cosineSql("c.cemb", "p.pemb")} AS pcos
       |       FROM cent c CROSS JOIN probes p),
       |cells AS (SELECT pid, cid AS cell FROM pc
       |          QUALIFY row_number() OVER (PARTITION BY pid
       |                                     ORDER BY pcos DESC, cid) <= $nprobe),
       |cand AS (SELECT cl.pid, a.vec_id FROM assign a JOIN cells cl USING (cell)
       |         WHERE a.vec_id <> cl.pid),
       |plut AS (SELECT p.pid, b.m, b.cid AS code, $lutDist AS d
       |         FROM books b CROSS JOIN probes p),
       |padc AS (SELECT l.pid, c.vec_id,
       |                list_reduce(list_prepend(0.0, list(l.d ORDER BY c.m)),
       |                            (acc, x) -> acc + x) AS pq_dist
       |         FROM codes c JOIN plut l ON l.m = c.m AND l.code = c.code
       |         GROUP BY l.pid, c.vec_id)""".stripMargin
  }

  def ivfPqBatchTopKOracle(k: Int, centroidMod: Long = 25L, nprobe: Int = 2,
                           numCentroids: Int = IvfNumCentroids,
                           mod: Long = 25L): String =
    s"""WITH ${ivfPqBatchCtes(centroidMod, nprobe, numCentroids, mod)},
       |scored AS (SELECT cand.pid AS probe_id, a.vec_id, e.label, a.pq_dist
       |           FROM padc a
       |           JOIN cand ON a.pid = cand.pid AND a.vec_id = cand.vec_id
       |           JOIN embeddings e ON e.vec_id = a.vec_id)
       |SELECT probe_id,
       |       row_number() OVER (PARTITION BY probe_id
       |                          ORDER BY pq_dist, vec_id)::BIGINT AS rank,
       |       vec_id, label, pq_dist
       |FROM scored
       |QUALIFY rank <= $k
       |ORDER BY probe_id, rank""".stripMargin

  /** Measured MEAN recall@k of the COMPOSED IVF+PQ stack against the
    * exact squared-L2 top-k, over the probe stride — the quality number
    * for the full serving path. `ann_ivf_recall` isolates the cell
    * pruning and `ann_pq_recall` isolates the code approximation; this
    * row measures both losses together, which is what a caller of the
    * composed plan actually experiences (and what widening nprobe or
    * training codebooks must move). */
  def ivfPqBatchRecall(spark: SparkSession, dir: String, k: Int,
                       centroidMod: Long = 25L, nprobe: Int = 2,
                       numCentroids: Int = IvfNumCentroids,
                       mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter(col("vec_id") % BatchProbeMod === 0 &&
        col("vec_id") < BatchProbeMod * RecallProbeCap)
      .select(col("vec_id").as("pid"),
        col("embedding").cast("array<double>").as("pemb"))
    val exW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("l2"), col("vec_id"))
    val exact = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        l2sq(col("embedding").cast("array<double>"), col("pemb")).as("l2"))
      .withColumn("rk", row_number().over(exW)).filter(col("rk") <= k)
      .select(col("pid"), col("vec_id"))
    // the probe budget applies to BOTH sides: the approx pipeline's
    // per-probe windows partition by probe_id, so the filter pushes
    // below them and the uncapped probes' ADC work is never done
    val approx = ivfPqBatchTopK(spark, dir, k, centroidMod, nprobe,
        numCentroids, mod)
      .filter(col("probe_id") < BatchProbeMod * RecallProbeCap)
      .select(col("probe_id").as("pid"), col("vec_id"))
    val perHit = exact.join(approx, Seq("pid", "vec_id"))
      .groupBy(col("pid")).agg(count(lit(1)).as("hits"))
    exact.groupBy(col("pid")).agg(count(lit(1)).as("kx"))
      .join(perHit, Seq("pid"), "left")
      .select(col("pid"), col("kx"), coalesce(col("hits"), lit(0L)).as("hits"))
      .agg(count(lit(1)).as("n_probes"), sum(col("kx")).as("k_total"),
        sum(col("hits")).as("hits_total"),
        (sum(col("hits")).cast("double") / sum(col("kx")).cast("double")).as("recall"))
  }

  def ivfPqBatchRecallOracle(k: Int, centroidMod: Long = 25L, nprobe: Int = 2,
                             numCentroids: Int = IvfNumCentroids,
                             mod: Long = 25L): String = {
    val full = l2sqFullSql("e.embedding", "p.pemb")
    s"""WITH ${ivfPqBatchCtes(centroidMod, nprobe, numCentroids, mod)},
       |ap AS (SELECT cand.pid, a.vec_id
       |       FROM padc a
       |       JOIN cand ON a.pid = cand.pid AND a.vec_id = cand.vec_id
       |       WHERE cand.pid < ${BatchProbeMod * RecallProbeCap}
       |       QUALIFY row_number() OVER (PARTITION BY cand.pid
       |                                  ORDER BY a.pq_dist, a.vec_id) <= $k),
       |ex AS (SELECT p.pid, e.vec_id
       |       FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.pid
       |         AND p.pid < ${BatchProbeMod * RecallProbeCap}
       |       QUALIFY row_number() OVER (PARTITION BY p.pid
       |                                  ORDER BY $full, e.vec_id) <= $k),
       |perx AS (SELECT pid, count(*) AS kx FROM ex GROUP BY pid),
       |perh AS (SELECT e.pid, count(*) AS hits FROM ex e
       |         JOIN ap a ON a.pid = e.pid AND a.vec_id = e.vec_id
       |         GROUP BY e.pid)
       |SELECT count(*) AS n_probes, sum(px.kx)::BIGINT AS k_total,
       |       coalesce(sum(ph.hits), 0)::BIGINT AS hits_total,
       |       coalesce(sum(ph.hits), 0)::DOUBLE / sum(px.kx)::DOUBLE AS recall
       |FROM perx px LEFT JOIN perh ph USING (pid)""".stripMargin
  }

  /** Per-probe row budgets of the SIZED refine ladder (round 14 — the
    * champion-cap discipline applied to the ANN knobs). Each knob's cost
    * is an exact row count, each budget a constant, so the derived plan
    * is a pure function of corpus size that the oracle re-derives in SQL:
    *
    *  - [[AnnCentroidRowBudget]] bounds QUERY-SIDE centroid rows
    *    (ncoarse coarse reps + the fine cells under np1 coarse groups ≈
    *    ncells·np1/ncoarse). The round-13 fixed np1 = ncoarse/4 was the
    *    refine ladder's REAL recall bottleneck — the knob sweep measured
    *    recall frozen at 0.2-0.3 across every (nprobe, refine) because
    *    the probe's true cells hid under unprobed coarse groups
    *    (shortlist 2/10 at np1=2 vs 9/10 at np1=4, same everything
    *    else). Under the budget, np1 prunes only when ncells actually
    *    forces it (at gate scales the whole coarse level is probed —
    *    honest: two-level pruning exists for corpora where C_q rows
    *    cannot cover ncells).
    *  - [[AnnCodeRowBudget]] bounds candidate code rows: nprobe cells ×
    *    the n/ncells cell size. Round 15: recalibrated 1024 → 8192 on the
    *    measured diversity-replica coverage curve (SCALE.md
    *    §ann-div-recall, 64-probe stride mean — the r14 single-probe
    *    0.80 was one lucky probe): 1024 rows bought coverage 0.42, and
    *    each doubling of nprobe adds ~0.15 until the knee at 64 probes
    *    (0.90 sample / 0.95 trained centroids). 8192 16-byte codes =
    *    128 KB per query — still flat in N under the ncells ∝ N cell
    *    policy, and two decades under the int8 tier it shortlists for.
    *  - [[AnnRefineRowBudget]] bounds the int8 point reads: refine·k
    *    (512: at the 8× candidate pool the 256-row shortlist left a
    *    measured 0.02 ADC-ordering loss on the table). */
  val AnnCentroidRowBudget = 4096L
  val AnnCodeRowBudget = 8192L
  val AnnRefineRowBudget = 512L

  /** The budget-sized refine plan (ncells, numCoarse, nprobe1, nprobe,
    * refine) — integer-exact so [[ivf2PqRefineTopKSizedOracle]] derives
    * the identical plan from `count(*)` in SQL. */
  def annRefinePlan(n: Long, k: Int): (Int, Int, Int, Int, Int) = {
    val ncells = autoNumCentroids(n)
    val ncoarse = math.max(4, math.sqrt(ncells.toDouble).round.toInt)
    val np1 = math.max(2L, math.min(ncoarse.toLong,
      (AnnCentroidRowBudget - ncoarse) * ncoarse / ncells)).toInt
    val nprobe = math.max(2L, math.min(ncells.toLong,
      AnnCodeRowBudget * ncells / n)).toInt
    val refine = math.max(4L, AnnRefineRowBudget / k).toInt
    (ncells, ncoarse, np1, nprobe, refine)
  }

  /** Lloyd iteration count of the SIZED ladder's fine codebook. */
  val AnnTrainIters = 2

  /** The cell-partitioned codes artifact ASSIGNED BY the trained fine
    * codebook committed at `finePath` — [[ivfPqCodes]] with
    * KMeans.assign in place of the sample-centroid flat assignment. Own
    * kind: a trained-assigned build must never serve the sample-assigned
    * read (the parameter-blind-kind class); iters/mod/ncells and the PQ
    * geometry all live in the kind. */
  def ensureIvfPqCodesTrained(spark: SparkSession, dir: String, finePath: String,
                              mod: Long, numCentroids: Int,
                              version: Int = 1): String =
    graft.Materialize.ensure(
      spark,
      s"graft_ivfpq_t${AnnTrainIters}_m${mod}_c${numCentroids}_m${PqM}k$PqK",
      dir, version) { p =>
      val e = Tables.embeddings(spark, dir)
      pqCodesWide(e, pqCodebooks(e, mod))
        .join(KMeans.assign(e, Tables.parquet(spark, finePath))
          .select(col("vec_id"), col("cell")), "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(p)
    }

  /** Which artifact generation an [[AnnModel]] was built from — its
    * [[graft.Memo]] stamp: the input dir's listing and the serving paths
    * of the trained fine codebook, the trained-assigned PQ codes and the
    * int8 tier. */
  private[graft] final case class AnnKey(listing: Seq[String], finePath: String,
                                         codesPath: String, int8Path: String)

  /** The query-invariant state of [[ivf2PqRefineTopKSized]] for one
    * [[AnnKey]], held in driver memory: the corpus size and the knobs
    * [[annRefinePlan]] derives from it, the trained fine codebook, its
    * coarse reps and fine→coarse map, and the PQ codebooks
    * (`books(m·K + j)` is subspace m of codeword `bookIds(j)`).
    * Codebook-sized only — C×64 + M×K×PqDim doubles and a C-entry map,
    * never a per-vector row: at 2,000 vectors (C = 16, K = 64) 5,120
    * doubles, 40 KB. */
  private[graft] final case class AnnModel(
      key: AnnKey, n: Long, np1: Int, nprobe: Int,
      fineIds: Array[Long], fineEmb: Array[ArrayData], fineGroup: Map[Long, Long],
      coarseIds: Array[Long], coarseEmb: Array[ArrayData],
      bookIds: Array[Long], books: Array[Array[Double]]) {

    /** The probe's nprobe cells: rank the coarse reps, keep np1 groups,
      * rank only those groups' fine cells — with the kernel `cosineDF`
      * evaluates, arguments in the composed selection's order. */
    def probeCells(p: ArrayData): Array[Long] = {
      val groups = rankDesc(coarseIds,
        coarseEmb.map(VectorFunctions.cosineKernelD(_, p)), np1).toSet
      val under = fineIds.indices.filter(i => fineGroup.get(fineIds(i)).exists(groups))
      rankDesc(under.map(fineIds).toArray,
        under.map(i => VectorFunctions.cosineKernelD(fineEmb(i), p)).toArray, nprobe)
    }

    /** The M×K ADC lookup table of probe `p`, laid out like `books`: the
      * squared L2 of each probe subspace to each codeword, the [[l2sq]]
      * fold. */
    def adcTable(p: Array[Double]): Array[Double] =
      Array.tabulate(books.length) { x =>
        val (m, c) = (x / bookIds.length, books(x))
        var acc = 0.0
        var i = 0
        while (i < PqDim) {
          val d = p(m * PqDim + i) - c(i)
          acc += d * d
          i += 1
        }
        acc
      }
  }

  /** Whether (score `sa`, id `ia`) comes before (`sb`, `ib`) under
    * `orderBy(score.desc, id)`: Spark's double ordering (NaN largest,
    * 0.0 == -0.0), ties to the smaller id. */
  private[graft] def ranksBefore(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(sa, sb)
    c > 0 || (c == 0 && ia < ib)
  }

  /** The `keep` ids of highest score under [[ranksBefore]] — the rows
    * `orderBy(score.desc, id).limit(keep)` returns. */
  private def rankDesc(ids: Array[Long], scores: Array[Double], keep: Int): Array[Long] =
    ids.indices.sortWith((a, b) => ranksBefore(scores(a), ids(a), scores(b), ids(b)))
      .take(keep).map(ids).toArray

  /** Column `i` of a collected row as a double vector; None when null. */
  private def vectorOf(r: Row, i: Int): Option[Array[Double]] =
    Option(r.getSeq[Any](i)).map { s =>
      require(!s.contains(null), s"vector with null elements: $r")
      s.map(_.asInstanceOf[Double]).toArray
    }

  /** The current [[AnnModel]] of `dir`, [[graft.Memo]]ized per dir under
    * its [[AnnKey]]. Every call lists the dir once and runs the three
    * artifact ensures (driver-side listings; no Spark job unless an
    * artifact is missing or stale); only a new listing counts the corpus
    * and only a new key builds a model, two more jobs. */
  private[graft] def annModel(spark: SparkSession, dir: String): AnnModel = {
    val listing = graft.Memo.listing(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val n = embeddingsCount(spark, dir, listing)
    val (ncells, ncoarse, np1, nprobe, _) = annRefinePlan(n, 1) // refine is per-k
    val finePath = KMeans.ensureTrainedCentroids(spark, dir, AnnTrainIters, 25L, ncells)
    val key = AnnKey(listing, finePath,
      ensureIvfPqCodesTrained(spark, dir, finePath, 25L, ncells),
      graft.Materialize.ensure(spark, Int8Codes, dir, e))
    graft.Memo(("ann model", dir), key)(buildAnnModel(spark, e, key, n, ncoarse, np1, nprobe))
  }

  private def buildAnnModel(spark: SparkSession, e: DataFrame, key: AnnKey,
                            n: Long, ncoarse: Int, np1: Int,
                            nprobe: Int): AnnModel = {
    val dim = PqM * PqDim
    val fine = Tables.parquet(spark, key.finePath).select(col("cid"), col("cemb"))
      .collect().map { r =>
        val v = vectorOf(r, 1).filter(_.length == dim).getOrElse(throw new IllegalArgumentException(
          s"trained codebook ${key.finePath}: centroid ${r.getLong(0)} is not a $dim-dim vector"))
        r.getLong(0) -> v
      }.sortBy(_._1)
    val fineIds = fine.map(_._1)
    val fineEmb = fine.map(f => UnsafeArrayData.fromPrimitiveArray(f._2): ArrayData)
    // coarseReps at centroidMod 25, coarseStride 4
    val coarse = fineIds.indices.filter(i => fineIds(i) % 100L == 0 && fineIds(i) < 100L * ncoarse)
    val coarseIds = coarse.map(fineIds).toArray
    val coarseEmb = coarse.map(fineEmb).toArray
    // KMeans.assign one level up: argmax cosine, ties to the smaller gid
    val fineGroup =
      if (coarseIds.isEmpty) Map.empty[Long, Long]
      else fineIds.indices.map(i => fineIds(i) -> rankDesc(coarseIds,
        coarseEmb.map(VectorFunctions.cosineKernelD(fineEmb(i), _)), 1).head).toMap
    val bookRows = pqCodebooks(e, 25L).collect().map { r =>
      val v = vectorOf(r, 2).filter(_.length == PqDim).getOrElse(throw new IllegalArgumentException(
        s"PQ codeword ${r.get(1)}: subspace ${r.getInt(0)} is not a $PqDim-dim slice"))
      (r.getInt(0), r.getAs[Number](1).longValue, v)
    }
    val bookIds = bookRows.map(_._2).distinct.sorted
    require(bookRows.length == PqM * bookIds.length,
      "PQ codebook sample holds a vec_id twice")
    val slot = bookIds.zipWithIndex.toMap
    val books = new Array[Array[Double]](bookRows.length)
    bookRows.foreach { case (m, cid, v) => books(m * bookIds.length + slot(cid)) = v }
    AnnModel(key, n, np1, nprobe, fineIds, fineEmb, fineGroup, coarseIds, coarseEmb,
      bookIds, books)
  }

  /** The budget-sized serving face of the compressed ladder
    * (`ann_ivf2pq_refine` gates it; its oracle re-derives the plan AND
    * the Lloyd training in SQL, the ann_ivf_auto discipline one family
    * over). The fine codebook is TRAINED (2 Lloyd iterations,
    * KMeans.trainedCentroids): on the diversity replica the id-stride
    * sample covers ~0.05 less recall at every nprobe (SCALE.md
    * §ann-div-recall). Sample PQ books stay: trained books measured zero
    * recall change twice (the ladder is coverage-bound, and the int8
    * re-rank absorbs ADC ordering noise).
    *
    * Everything query-invariant is the per-generation [[AnnModel]]
    * ([[annModel]]), so a warm request runs three Spark jobs:
    *  1. one read fetches the probe's float vector and its int8 vector;
    *  2. the driver derives the probe cells and the M×K ADC table from
    *     the model, and one scan of the probed cells of the codes artifact
    *     (a literal `cell IN (…)` partition filter) sums each row's ADC
    *     distance map-side and returns the refine·k shortlist by
    *     (pq_dist, vec_id);
    *  3. the returned plan re-ranks the shortlist in the int8 tier against
    *     the probe's int8 vector as a literal.
    * Rows equal the composed per-request plan's (OperatorParitySpec keeps
    * it as the reference). A probe absent from either tier, or with a
    * null vector, answers the empty frame; a probe id held twice, or a
    * probe vector of another dimension or with null elements, is
    * refused. */
  def ivf2PqRefineTopKSized(spark: SparkSession, dir: String, probeId: Long,
                            k: Int): DataFrame = {
    val model = annModel(spark, dir)
    val refine = annRefinePlan(model.n, k)._5
    val t = Tables.parquet(spark, model.key.int8Path)
    val demb = transform(col("codes"), c => c.cast("double") * col("scale"))
    def rerank(shortlist: Seq[Long], qemb: Array[Double]): DataFrame =
      t.filter(col("vec_id").isin(shortlist: _*))
        .select(col("vec_id"), col("label"),
          round(VectorFunctions.cosineDF(demb, typedLit(qemb)), 4).as("cosine_sim"))
        .filter(!isnan(col("cosine_sim")))
        .orderBy(col("cosine_sim").desc, col("vec_id"))
        .limit(k)
    val fetched = Tables.embeddings(spark, dir).filter(col("vec_id") === probeId)
        .select(lit(0).as("tier"), col("embedding").cast("array<double>").as("v"))
      .union(t.filter(col("vec_id") === probeId).select(lit(1).as("tier"), demb.as("v")))
      .collect()
    def tier(i: Int) = fetched.filter(_.getInt(0) == i).map(vectorOf(_, 1))
    val (pemb, qemb) = (tier(0), tier(1))
    require(pemb.length <= 1 && qemb.length <= 1, s"vec_id $probeId is not unique in $dir")
    (pemb.headOption.flatten, qemb.headOption.flatten) match {
      case (Some(p), Some(q)) =>
        require(p.length == PqM * PqDim,
          s"probe $probeId is a ${p.length}-dim vector, the index is ${PqM * PqDim}-dim")
        val cells = model.probeCells(UnsafeArrayData.fromPrimitiveArray(p))
        val shortlist =
          if (cells.isEmpty) Array.empty[Long]
          else Tables.parquet(spark, model.key.codesPath)
            .filter(col("cell").isin(cells.toSeq: _*) && col("vec_id") =!= probeId)
            .select(col("vec_id"), VectorFunctions.adcDistanceF(col("codes"),
              model.bookIds, model.adcTable(p), PqM).as("pq_dist"))
            .orderBy(col("pq_dist"), col("vec_id"))
            .limit(k * refine)
            .collect().map(_.getLong(0))
        rerank(shortlist.toSeq, q)
      case _ => rerank(Nil, Array.empty).limit(0)
    }
  }

  /** Coarse-plus-REFINE — the last stage of the production serving
    * ladder (float32 master → int8 hot tier → PQ coarse codes): the
    * served two-level IVF+PQ plan produces a `refine`·k-deep ADC
    * shortlist (8-byte codes, DPP-pruned cells), and the shortlist's
    * rows re-rank by dequantized-cosine POINT READS of the int8 tier —
    * ≤ refine·k rows of a vec_id-keyed artifact, never the float
    * vectors. The refine stage returns the stack to the family's exact
    * user-facing metric (cosine, like `ann_ivf2_topk`) at hot-tier cost;
    * `ann_refine_recall` keeps what it recovers over the raw ADC ranking
    * visible. Both artifacts appendable under the same frozen codebooks.
    * Zero vectors dequantize to NaN cosine → dropped (the int8 tier
    * convention). */
  def ivf2PqRefineTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
                       centroidMod: Long = 25L, nprobe: Int = 2,
                       numCentroids: Int = IvfNumCentroids,
                       coarseStride: Long = 4L, numCoarse: Int = 4,
                       nprobe1: Int = 2, mod: Long = 25L,
                       refine: Int = 4): DataFrame = {
    val shortlist = ivf2PqBucketedTopK(spark, dir, probeId, k * refine,
        centroidMod, nprobe, numCentroids, coarseStride, numCoarse,
        nprobe1, mod)
      .select(col("vec_id"))
    val t = int8CodesOf(spark, dir)
      .withColumn("demb", transform(col("codes"), c => c.cast("double") * col("scale")))
    val probe = t.filter(col("vec_id") === probeId).select(col("demb").as("pemb"))
    t.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        round(graft.functions.VectorFunctions.cosineDF(col("demb"), col("pemb")), 4)
          .as("cosine_sim"))
      .filter(!isnan(col("cosine_sim")))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** SQL twin of the SIZED two-level PQ shortlist: [[ivf2PqTopKOracle]]
    * with every probe-side knob replaced by the plan-CTE derivation
    * [[annRefinePlan]] performs — ncells/ncoarse/np1/nprobe from
    * `count(*)` and the row budgets (refine·k is data-independent and
    * stays a literal). The fixed LIMITs become QUALIFY row_number
    * predicates against plan scalars. */
  private def ivf2PqTopKSizedOracle(probeId: Long, k: Int,
                                    shortDepth: Int): String = {
    val centroidMod = 25L; val coarseStride = 4L; val mod = 25L
    s"""WITH ${pqCtes(probeId, mod)},
       |plan AS (
       |  SELECT ncells, ncoarse,
       |         greatest(2, least(ncoarse, ($AnnCentroidRowBudget - ncoarse) * ncoarse // ncells)) AS np1,
       |         greatest(2, least(ncells, $AnnCodeRowBudget * ncells // n)) AS nprobe,
       |         $centroidMod * ncells AS cell_bound,
       |         ${centroidMod * coarseStride} * ncoarse AS coarse_bound
       |  FROM (SELECT n, ncells,
       |               greatest(4, CAST(round(sqrt(ncells::DOUBLE)) AS BIGINT)) AS ncoarse
       |        FROM (SELECT n, greatest($IvfNumCentroids, n // $IvfTargetCellSize) AS ncells
       |              FROM (SELECT count(*)::BIGINT AS n FROM embeddings)))),
       |${KMeans.trainCtesBound(AnnTrainIters, centroidMod,
            "SELECT cell_bound FROM plan")},
       |cent AS (SELECT cid, cemb FROM cent$AnnTrainIters),
       |coarse AS (SELECT cid AS gid, cemb AS gemb FROM cent
       |           WHERE cid % ${centroidMod * coarseStride} = 0
       |             AND cid < (SELECT coarse_bound FROM plan)),
       |f2c AS (SELECT cid, gid FROM (
       |          SELECT c.cid, g.gid,
       |                 row_number() OVER (PARTITION BY c.cid
       |                   ORDER BY ${cosineSql("c.cemb", "g.gemb")} DESC, g.gid) AS rn
       |          FROM cent c CROSS JOIN coarse g)
       |        WHERE rn = 1),
       |pg AS (SELECT gid FROM (
       |         SELECT gid, row_number() OVER (
       |                  ORDER BY ${cosineSql("gemb", "pemb")} DESC, gid) AS rn
       |         FROM coarse CROSS JOIN probe)
       |       WHERE rn <= (SELECT np1 FROM plan)),
       |pc AS (SELECT cell FROM (
       |         SELECT cid AS cell, row_number() OVER (
       |                  ORDER BY ${cosineSql("cemb", "pemb")} DESC, cid) AS rn
       |         FROM cent JOIN f2c USING (cid)
       |         JOIN pg USING (gid) CROSS JOIN probe)
       |       WHERE rn <= (SELECT nprobe FROM plan)),
       |ac AS (SELECT e.vec_id, c.cid,
       |              ${cosineSql("e.embedding", "c.cemb")} AS ccos
       |       FROM embeddings e CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid AS cell FROM ac
       |           QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                      ORDER BY ccos DESC, cid) = 1),
       |cand AS (SELECT a.vec_id FROM assign a JOIN pc USING (cell)
       |         WHERE a.vec_id <> $probeId)
       |SELECT a.vec_id, e.label, a.pq_dist
       |FROM adc a JOIN cand USING (vec_id) JOIN embeddings e USING (vec_id)
       |ORDER BY a.pq_dist, a.vec_id
       |LIMIT $shortDepth""".stripMargin
  }

  /** SQL twin of [[ivf2PqRefineTopKSized]]: the sized shortlist plus the
    * unchanged int8 re-rank tail. */
  def ivf2PqRefineTopKSizedOracle(probeId: Long, k: Int): String = {
    val refine = math.max(4L, AnnRefineRowBudget / k).toInt
    val codes = int8CodesSql("e.embedding", "s.scale")
    val cos = cosineSql("d.demb", "p.pemb")
    s"""WITH sl AS (SELECT vec_id FROM (
       |${ivf2PqTopKSizedOracle(probeId, k, k * refine)})),
       |$int8ScaleCte,
       |t AS (SELECT e.vec_id, e.label, s.scale, $codes AS codes
       |      FROM embeddings e JOIN s USING (vec_id)),
       |d AS (SELECT vec_id, label,
       |             list_transform(codes, c -> c::DOUBLE * scale) AS demb
       |      FROM t),
       |p AS (SELECT demb AS pemb FROM d WHERE vec_id = $probeId)
       |SELECT d.vec_id, d.label, round($cos, 4) AS cosine_sim
       |FROM d JOIN sl USING (vec_id) CROSS JOIN p
       |WHERE NOT isnan($cos)
       |ORDER BY cosine_sim DESC, d.vec_id
       |LIMIT $k""".stripMargin
  }

  /** Recall@k of the SIZED refine path vs exact — the gated
    * `ann_refine_recall` anchor (sized operator, sized oracle). */
  def ivf2PqRefineRecallSized(spark: SparkSession, dir: String, probeId: Long,
                              k: Int): DataFrame = {
    val exact = cosineTopK(spark, dir, probeId, k).select(col("vec_id"))
    val approx = ivf2PqRefineTopKSized(spark, dir, probeId, k)
      .select(col("vec_id").as("a_id"))
    exact.join(broadcast(approx), col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k_exact"), count(col("a_id")).as("hits"))
      .withColumn("recall",
        col("hits").cast("double") / col("k_exact").cast("double"))
      .orderBy(col("k_exact"))
  }

  def ivf2PqRefineRecallSizedOracle(probeId: Long, k: Int): String =
    s"""SELECT count(*) AS k_exact, count(a.a_id) AS hits,
       |       count(a.a_id)::DOUBLE / count(*)::DOUBLE AS recall
       |FROM (${cosineTopKOracle(probeId, k)}) e
       |LEFT JOIN (SELECT vec_id AS a_id FROM (
       |  ${ivf2PqRefineTopKSizedOracle(probeId, k)})) a
       |  ON e.vec_id = a.a_id
       |ORDER BY k_exact""".stripMargin

  def ivf2PqRefineTopKOracle(probeId: Long, k: Int, centroidMod: Long = 25L,
                             nprobe: Int = 2,
                             numCentroids: Int = IvfNumCentroids,
                             coarseStride: Long = 4L, numCoarse: Int = 4,
                             nprobe1: Int = 2, mod: Long = 25L,
                             refine: Int = 4): String = {
    val codes = int8CodesSql("e.embedding", "s.scale")
    val cos = cosineSql("d.demb", "p.pemb")
    s"""WITH sl AS (SELECT vec_id FROM (
       |${ivf2PqTopKOracle(probeId, k * refine, centroidMod, nprobe,
             numCentroids, coarseStride, numCoarse, nprobe1, mod)})),
       |$int8ScaleCte,
       |t AS (SELECT e.vec_id, e.label, s.scale, $codes AS codes
       |      FROM embeddings e JOIN s USING (vec_id)),
       |d AS (SELECT vec_id, label,
       |             list_transform(codes, c -> c::DOUBLE * scale) AS demb
       |      FROM t),
       |p AS (SELECT demb AS pemb FROM d WHERE vec_id = $probeId)
       |SELECT d.vec_id, d.label, round($cos, 4) AS cosine_sim
       |FROM d JOIN sl USING (vec_id) CROSS JOIN p
       |WHERE NOT isnan($cos)
       |ORDER BY cosine_sim DESC, d.vec_id
       |LIMIT $k""".stripMargin
  }

  def ivf2PqTopKOracle(probeId: Long, k: Int, centroidMod: Long = 25L,
                       nprobe: Int = 2, numCentroids: Int = IvfNumCentroids,
                       coarseStride: Long = 4L, numCoarse: Int = 4,
                       nprobe1: Int = 2, mod: Long = 25L): String =
    s"""WITH ${pqCtes(probeId, mod)},
       |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |         WHERE vec_id % $centroidMod = 0
       |           AND vec_id < ${centroidMod * numCentroids}),
       |coarse AS (SELECT cid AS gid, cemb AS gemb FROM cent
       |           WHERE cid % ${centroidMod * coarseStride} = 0
       |             AND cid < ${centroidMod * coarseStride * numCoarse}),
       |f2c AS (SELECT cid, gid FROM (
       |          SELECT c.cid, g.gid,
       |                 row_number() OVER (PARTITION BY c.cid
       |                   ORDER BY ${cosineSql("c.cemb", "g.gemb")} DESC, g.gid) AS rn
       |          FROM cent c CROSS JOIN coarse g)
       |        WHERE rn = 1),
       |pg AS (SELECT gid FROM coarse CROSS JOIN probe
       |       ORDER BY ${cosineSql("gemb", "pemb")} DESC, gid LIMIT $nprobe1),
       |pc AS (SELECT cid AS cell FROM cent JOIN f2c USING (cid)
       |       JOIN pg USING (gid) CROSS JOIN probe
       |       ORDER BY ${cosineSql("cemb", "pemb")} DESC, cid LIMIT $nprobe),
       |ac AS (SELECT e.vec_id, c.cid,
       |              ${cosineSql("e.embedding", "c.cemb")} AS ccos
       |       FROM embeddings e CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid AS cell FROM ac
       |           QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                      ORDER BY ccos DESC, cid) = 1),
       |cand AS (SELECT a.vec_id FROM assign a JOIN pc USING (cell)
       |         WHERE a.vec_id <> $probeId)
       |SELECT a.vec_id, e.label, a.pq_dist
       |FROM adc a JOIN cand USING (vec_id) JOIN embeddings e USING (vec_id)
       |ORDER BY a.pq_dist, a.vec_id
       |LIMIT $k""".stripMargin

  def ivfPqTopKOracle(probeId: Long, k: Int, centroidMod: Long = 25L,
                      nprobe: Int = 2, numCentroids: Int = IvfNumCentroids,
                      mod: Long = 25L): String =
    s"""WITH ${pqCtes(probeId, mod)},
       |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |         WHERE vec_id % $centroidMod = 0
       |           AND vec_id < ${centroidMod * numCentroids}),
       |ac AS (SELECT e.vec_id, c.cid,
       |              ${cosineSql("e.embedding", "c.cemb")} AS ccos
       |       FROM embeddings e CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid AS cell FROM ac
       |           QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                      ORDER BY ccos DESC, cid) = 1),
       |pc AS (SELECT c.cid, ${cosineSql("c.cemb", "p.pemb")} AS pcos
       |       FROM cent c CROSS JOIN probe p),
       |cells AS (SELECT cid AS cell FROM pc ORDER BY pcos DESC, cid LIMIT $nprobe),
       |cand AS (SELECT a.vec_id FROM assign a JOIN cells USING (cell)
       |         WHERE a.vec_id <> $probeId)
       |SELECT a.vec_id, e.label, a.pq_dist
       |FROM adc a JOIN cand USING (vec_id) JOIN embeddings e USING (vec_id)
       |ORDER BY a.pq_dist, a.vec_id
       |LIMIT $k""".stripMargin

  /** Measured MEAN recall@k of PQ-ADC against the exact squared-L2 top-k
    * (the metric PQ approximates), averaged over the `BatchProbeMod`
    * probe stride — single-probe recall@10 is 1-3 hits of noise, useless
    * for comparing codebooks; the mean over the probe set is the number
    * that shows what (e.g.) Lloyd training buys over the raw sample. */
  def pqMeanRecall(spark: SparkSession, dir: String, k: Int,
                   mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    pqMeanRecallWith(e, pqCodebooks(e, mod), k)
  }

  private[graft] def pqMeanRecallWith(e: DataFrame, books: DataFrame,
                                      k: Int): DataFrame = {
    val probes = e.filter(col("vec_id") % BatchProbeMod === 0 &&
        col("vec_id") < BatchProbeMod * RecallProbeCap)
      .select(col("vec_id").as("pid"),
        col("embedding").cast("array<double>").as("pemb"))
    val exW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("l2"), col("vec_id"))
    val exact = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        l2sq(col("embedding").cast("array<double>"), col("pemb")).as("l2"))
      .withColumn("rk", row_number().over(exW)).filter(col("rk") <= k)
      .select(col("pid"), col("vec_id"))
    val lut = books.crossJoin(broadcast(probes))
      .select(col("pid"), col("m"), col("cid").as("code"),
        l2sq(slice(col("pemb"), col("m") * PqDim + 1, lit(PqDim)),
          col("cemb")).as("d"))
    val apW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("pq_dist"), col("vec_id"))
    val approx = pqEncode(e, books).join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("pid"), col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("d")))).as("ds"))
      .select(col("pid"), col("vec_id"),
        aggregate(col("ds"), lit(0.0), (acc, x) => acc + x("d")).as("pq_dist"))
      .filter(col("vec_id") =!= col("pid"))
      .withColumn("rk", row_number().over(apW)).filter(col("rk") <= k)
      .select(col("pid"), col("vec_id"))
    val perHit = exact.join(approx, Seq("pid", "vec_id"))
      .groupBy(col("pid")).agg(count(lit(1)).as("hits"))
    exact.groupBy(col("pid")).agg(count(lit(1)).as("kx"))
      .join(perHit, Seq("pid"), "left")
      .select(col("pid"), col("kx"), coalesce(col("hits"), lit(0L)).as("hits"))
      .agg(count(lit(1)).as("n_probes"), sum(col("kx")).as("k_total"),
        sum(col("hits")).as("hits_total"),
        (sum(col("hits")).cast("double") / sum(col("kx")).cast("double")).as("recall"))
  }

  // ---------------------------------------------------------- PQ oracles

  /** Oracle fragment: squared L2 between `PqDim`-dim sublists, the same
    * left-to-right fold as [[l2sq]]. `aSub(i)` must yield the i-th (1-based)
    * element of the subvector. */
  private[graft] def l2sqSql(aSub: Int => String, b: String): String = {
    val terms = (1 to PqDim).map(i => s"(${aSub(i)} - $b[$i]) * (${aSub(i)} - $b[$i])")
    s"list_reduce(list_prepend(0.0, [${terms.mkString(", ")}]), (acc, x) -> acc + x)"
  }

  /** The deterministic-sample codebook as a `books` CTE. */
  private[graft] def pqSampleBooksCte(mod: Long): String =
    s"""books AS (SELECT ms.m, e.vec_id AS cid,
       |                 list_transform(range(1, ${PqDim + 1}),
       |                   i -> e.embedding[ms.m * $PqDim + i]::DOUBLE) AS cemb
       |          FROM embeddings e
       |          CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms
       |          WHERE e.vec_id % $mod = 0 AND e.vec_id < ${mod * PqK})""".stripMargin

  /** Encode CTE over a pre-defined `books` relation. */
  private[graft] def pqCodesCte: String = {
    val encDist = l2sqSql(i => s"e.embedding[b.m * $PqDim + $i]::DOUBLE", "b.cemb")
    s"""codes AS (SELECT e.vec_id, b.m, b.cid AS code
       |          FROM embeddings e CROSS JOIN books b
       |          QUALIFY row_number() OVER (PARTITION BY e.vec_id, b.m
       |                                     ORDER BY $encDist, b.cid) = 1)""".stripMargin
  }

  /** Encode + probe LUT + ADC CTEs over a pre-defined `books` relation —
    * shared by the sample and the Lloyd-trained codebook oracles. */
  private[graft] def pqAdcCtes(probeId: Long): String = {
    val lutDist = l2sqSql(i => s"p.pemb[b.m * $PqDim + $i]::DOUBLE", "b.cemb")
    s"""$pqCodesCte,
       |probe AS (SELECT embedding AS pemb FROM embeddings WHERE vec_id = $probeId),
       |lut AS (SELECT b.m, b.cid AS code, $lutDist AS d
       |        FROM books b CROSS JOIN probe p),
       |adc AS (SELECT c.vec_id,
       |               list_reduce(list_prepend(0.0, list(l.d ORDER BY c.m)),
       |                           (acc, x) -> acc + x) AS pq_dist
       |        FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
       |        GROUP BY c.vec_id)""".stripMargin
  }

  /** Multi-probe mean-recall CTEs + final SELECT over pre-defined `books`
    * — mirrors [[pqMeanRecallWith]]. */
  private[graft] def pqMeanRecallSql(k: Int): String = {
    val full = l2sqFullSql("e.embedding", "p.pemb")
    val lutDist = l2sqSql(i => s"p.pemb[b.m * $PqDim + $i]::DOUBLE", "b.cemb")
    s"""$pqCodesCte,
       |pr AS (SELECT vec_id AS pid, embedding AS pemb FROM embeddings
       |       WHERE vec_id % $BatchProbeMod = 0
       |         AND vec_id < ${BatchProbeMod * RecallProbeCap}),
       |ex AS (SELECT p.pid, e.vec_id
       |       FROM embeddings e CROSS JOIN pr p WHERE e.vec_id <> p.pid
       |       QUALIFY row_number() OVER (PARTITION BY p.pid
       |                                  ORDER BY $full, e.vec_id) <= $k),
       |plut AS (SELECT p.pid, b.m, b.cid AS code, $lutDist AS d
       |         FROM books b CROSS JOIN pr p),
       |padc AS (SELECT l.pid, c.vec_id,
       |                list_reduce(list_prepend(0.0, list(l.d ORDER BY c.m)),
       |                            (acc, x) -> acc + x) AS pq_dist
       |         FROM codes c JOIN plut l ON l.m = c.m AND l.code = c.code
       |         GROUP BY l.pid, c.vec_id),
       |ap AS (SELECT pid, vec_id FROM padc WHERE vec_id <> pid
       |       QUALIFY row_number() OVER (PARTITION BY pid
       |                                  ORDER BY pq_dist, vec_id) <= $k),
       |perx AS (SELECT pid, count(*) AS kx FROM ex GROUP BY pid),
       |perh AS (SELECT e.pid, count(*) AS hits FROM ex e
       |         JOIN ap a ON a.pid = e.pid AND a.vec_id = e.vec_id
       |         GROUP BY e.pid)
       |SELECT count(*) AS n_probes, sum(px.kx)::BIGINT AS k_total,
       |       coalesce(sum(ph.hits), 0)::BIGINT AS hits_total,
       |       coalesce(sum(ph.hits), 0)::DOUBLE / sum(px.kx)::DOUBLE AS recall
       |FROM perx px LEFT JOIN perh ph USING (pid)""".stripMargin
  }

  def pqMeanRecallOracle(k: Int, mod: Long = 25L): String =
    s"""WITH ${pqSampleBooksCte(mod)},
       |${pqMeanRecallSql(k)}""".stripMargin

  private def pqCtes(probeId: Long, mod: Long): String =
    pqSampleBooksCte(mod) + ",\n" + pqAdcCtes(probeId)

  def pqTopKOracle(probeId: Long, k: Int, mod: Long = 25L): String =
    s"""WITH ${pqCtes(probeId, mod)}
       |SELECT a.vec_id, e.label, a.pq_dist
       |FROM adc a JOIN embeddings e USING (vec_id)
       |WHERE a.vec_id <> $probeId
       |ORDER BY a.pq_dist, a.vec_id
       |LIMIT $k""".stripMargin

  /** Full-width squared L2 (64 dims), same left-to-right fold. */
  private[graft] def l2sqFullSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${PqM * PqDim + 1}),
       | i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))),
       | (acc, x) -> acc + x)""".stripMargin.replaceAll("\n", " ")

  // --------------------------------------------- int8 vector quantization

  /** The codec's two expressions — ONE spelling shared by the quantize
    * gate row, the dequantized search tier, and (via [[int8ScaleCte]] /
    * [[int8CodesSql]]) both SQL oracles, so the codec cannot fork. */
  private def int8ScaleCol: org.apache.spark.sql.Column =
    array_max(transform(col("embedding"), x => abs(x.cast("double")))) / 127.0

  /** Requires a `scale` column in scope. */
  private def int8CodesCol: org.apache.spark.sql.Column =
    when(col("scale") === 0.0, transform(col("embedding"), _ => lit(0L)))
      .otherwise(transform(col("embedding"),
        x => floor(x.cast("double") / col("scale") + 0.5).cast("long")))

  private[graft] val int8ScaleCte: String =
    """s AS (SELECT vec_id,
      |        list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
      |      FROM embeddings)""".stripMargin

  /** Int8 code list of `emb` under `scale` (SQL twin of int8CodesCol). */
  private[graft] def int8CodesSql(emb: String, scale: String): String =
    s"""CASE WHEN $scale = 0 THEN list_transform($emb, x -> 0::BIGINT)
       |     ELSE list_transform($emb, x -> floor(x::DOUBLE / $scale + 0.5)::BIGINT)
       |END""".stripMargin.replaceAll("\n", " ")

  /** Per-vector symmetric int8 quantization — the 4× storage codec next
    * to PQ's 32× (the standard serving-stack ladder: float32 master →
    * int8 for the hot tier → PQ codes for the coarse pass). scale =
    * max|x|/127, code_i = floor(x_i/scale + 0.5) (round-half-up — total
    * and engine-identical, unlike banker's rounding); the max guarantees
    * every code lands in [-127, 127] with no clamp. Map-only narrow
    * projection; every output is order-free (max over a set, integer
    * sums), so the row is bit-exact cross-engine, and the measured
    * per-vector reconstruction error (≤ scale/2 by construction —
    * worst 0.0021 on the gate corpus) stays visible in the gate. */
  def int8Quantize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val withScale = e.select(col("vec_id"), col("embedding"), int8ScaleCol.as("scale"))
    val withCodes = withScale.withColumn("codes", int8CodesCol)
    val err = array_max(transform(sequence(lit(1), size(col("codes"))),
      i => abs(element_at(col("codes"), i).cast("double") * col("scale") -
        element_at(col("embedding"), i).cast("double"))))
    withCodes.select(col("vec_id"), col("scale"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("codes"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
        err.as("max_abs_err"))
      .orderBy(col("vec_id"))
  }

  /** Dequantized double vectors under the int8 codec — the compressed
    * hot tier a serving stack actually searches. Same shared codec
    * expressions as [[int8Quantize]]. */
  private def int8Dequant(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"), col("embedding"), int8ScaleCol.as("scale"))
      .withColumn("demb", transform(int8CodesCol, c => c.cast("double") * col("scale")))
      .select(col("vec_id"), col("label"), col("demb"))

  // ------------------------------------------------ int8 code artifact

  val Int8Version = 1

  /** (vec_id, label, scale, codes) — the stored form of the hot tier.
    * Row-local derivation, so the artifact is appendable exactly like
    * the PQ codes (append == rebuild, IncrementalIndexSpec). */
  private[graft] def int8CodeRows(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"), col("embedding"),
        int8ScaleCol.as("scale"))
      .withColumn("codes", int8CodesCol)
      .select(col("vec_id"), col("label"), col("scale"), col("codes"))

  /** The int8 code artifact (at scale the ingest-time quantization job):
    * the serving tier stores 4×-compressed codes and a search never
    * touches the float embeddings again. */
  val Int8Codes: graft.Artifact =
    graft.Artifact("graft_int8codes", Int8Version, int8CodeRows, graft.Artifact.Plain)

  def int8CodesOf(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark,
      graft.Materialize.ensure(spark, Int8Codes, dir, Tables.embeddings(spark, dir)))

  /** Cosine top-k SERVED FROM the materialized int8 tier: probe and
    * candidates both dequantize from stored codes (the honest serving
    * condition ann_int8_recall measures — recall@10 0.983 vs float);
    * the plan never scans embeddings.parquet (PlanShapeSpec). Zero
    * vectors dequantize to zero → NaN cosine → dropped on both engines
    * (the int8MeanRecall convention). */
  def int8TopK(spark: SparkSession, dir: String, probeId: Long, k: Int): DataFrame = {
    val t = int8CodesOf(spark, dir)
      .withColumn("demb", transform(col("codes"), c => c.cast("double") * col("scale")))
    val probe = t.filter(col("vec_id") === probeId).select(col("demb").as("pemb"))
    t.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        round(graft.functions.VectorFunctions.cosineDF(col("demb"), col("pemb")), 4)
          .as("cosine_sim"))
      .filter(!isnan(col("cosine_sim")))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  def int8TopKOracle(probeId: Long, k: Int): String = {
    val codes = int8CodesSql("e.embedding", "s.scale")
    val cos = cosineSql("d.demb", "p.pemb")
    s"""WITH $int8ScaleCte,
       |t AS (SELECT e.vec_id, e.label, s.scale, $codes AS codes
       |      FROM embeddings e JOIN s USING (vec_id)),
       |d AS (SELECT vec_id, label,
       |             list_transform(codes, c -> c::DOUBLE * scale) AS demb
       |      FROM t),
       |p AS (SELECT demb AS pemb FROM d WHERE vec_id = $probeId)
       |SELECT d.vec_id, d.label, round($cos, 4) AS cosine_sim
       |FROM d CROSS JOIN p
       |WHERE d.vec_id <> $probeId AND NOT isnan($cos)
       |ORDER BY cosine_sim DESC, d.vec_id
       |LIMIT $k""".stripMargin
  }

  /** Measured MEAN recall@k of cosine top-k over the int8-DEQUANTIZED
    * tier vs the exact float baseline, averaged over the BatchProbeMod
    * probe stride (probe vectors are quantized too — both sides live in
    * the compressed tier, the honest serving condition). The codec's
    * ≤ scale/2 per-element error bound predicts near-perfect ranking
    * agreement; this row MEASURES it instead of asserting it — the
    * "measure, don't guess" anchor for emb_int8, exactly as
    * ann_pq_recall anchors the PQ codes. */
  def int8MeanRecall(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val exProbes = e.filter(col("vec_id") % BatchProbeMod === 0 &&
        col("vec_id") < BatchProbeMod * RecallProbeCap)
      .select(col("vec_id").as("pid"),
        col("embedding").cast("array<double>").as("pemb"))
    val exW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("cs").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(exProbes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        graft.functions.VectorFunctions.cosineDF(
          col("embedding").cast("array<double>"), col("pemb")).as("cs"))
      .filter(!isnan(col("cs")))
      .withColumn("rk", row_number().over(exW)).filter(col("rk") <= k)
      .select(col("pid"), col("vec_id"))
    val dq = int8Dequant(e)
    val dqProbes = dq.filter(col("vec_id") % BatchProbeMod === 0 &&
        col("vec_id") < BatchProbeMod * RecallProbeCap)
      .select(col("vec_id").as("pid"), col("demb").as("pemb"))
    val approx = dq.crossJoin(broadcast(dqProbes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        graft.functions.VectorFunctions.cosineDF(col("demb"), col("pemb")).as("cs"))
      .filter(!isnan(col("cs")))
      .withColumn("rk", row_number().over(exW)).filter(col("rk") <= k)
      .select(col("pid"), col("vec_id"))
    val perHit = exact.join(approx, Seq("pid", "vec_id"))
      .groupBy(col("pid")).agg(count(lit(1)).as("hits"))
    exact.groupBy(col("pid")).agg(count(lit(1)).as("kx"))
      .join(perHit, Seq("pid"), "left")
      .select(col("pid"), col("kx"), coalesce(col("hits"), lit(0L)).as("hits"))
      .agg(count(lit(1)).as("n_probes"), sum(col("kx")).as("k_total"),
        sum(col("hits")).as("hits_total"),
        (sum(col("hits")).cast("double") / sum(col("kx")).cast("double")).as("recall"))
  }

  def int8MeanRecallOracle(k: Int): String = {
    val cosF = cosineSql("e.embedding", "p.pemb")
    val cosD = cosineSql("a.demb", "p.pemb")
    s"""WITH $int8ScaleCte,
       |dq AS (SELECT e.vec_id,
       |        list_transform(${int8CodesSql("e.embedding", "s.scale")},
       |          c -> c::DOUBLE * s.scale) AS demb
       |      FROM embeddings e JOIN s USING (vec_id)),
       |xp AS (SELECT vec_id AS pid, list_transform(embedding, x -> x::DOUBLE) AS pemb
       |       FROM embeddings WHERE vec_id % $BatchProbeMod = 0
       |         AND vec_id < ${BatchProbeMod * RecallProbeCap}),
       |exact AS (SELECT p.pid, e.vec_id FROM embeddings e CROSS JOIN xp p
       |          WHERE e.vec_id <> p.pid AND NOT isnan($cosF)
       |          QUALIFY row_number() OVER (PARTITION BY p.pid
       |                   ORDER BY $cosF DESC, e.vec_id) <= $k),
       |dp AS (SELECT vec_id AS pid, demb AS pemb FROM dq
       |       WHERE vec_id % $BatchProbeMod = 0
       |         AND vec_id < ${BatchProbeMod * RecallProbeCap}),
       |approx AS (SELECT p.pid, a.vec_id FROM dq a CROSS JOIN dp p
       |           WHERE a.vec_id <> p.pid AND NOT isnan($cosD)
       |           QUALIFY row_number() OVER (PARTITION BY p.pid
       |                    ORDER BY $cosD DESC, a.vec_id) <= $k),
       |ph AS (SELECT pid, count(*)::BIGINT AS hits
       |       FROM exact JOIN approx USING (pid, vec_id) GROUP BY pid),
       |px AS (SELECT pid, count(*)::BIGINT AS kx FROM exact GROUP BY pid)
       |SELECT count(*)::BIGINT AS n_probes, sum(px.kx)::BIGINT AS k_total,
       |       coalesce(sum(ph.hits), 0)::BIGINT AS hits_total,
       |       coalesce(sum(ph.hits), 0)::DOUBLE / sum(px.kx)::DOUBLE AS recall
       |FROM px LEFT JOIN ph USING (pid)""".stripMargin
  }

  def int8QuantizeOracle: String =
    s"""WITH $int8ScaleCte,
       |q AS (SELECT e.vec_id, s.scale,
       |        ${int8CodesSql("e.embedding", "s.scale")} AS codes
       |      FROM embeddings e JOIN s USING (vec_id))
       |SELECT q.vec_id, q.scale,
       |       list_reduce(list_prepend(0::BIGINT, q.codes), (a, x) -> a + x) AS q_sum,
       |       list_reduce(list_prepend(0::BIGINT, list_transform(q.codes, x -> abs(x))), (a, x) -> a + x) AS q_l1,
       |       list_max(list_transform(range(1, len(q.codes) + 1),
       |         i -> abs(q.codes[i]::DOUBLE * q.scale - e.embedding[i]::DOUBLE))) AS max_abs_err
       |FROM q JOIN embeddings e USING (vec_id)
       |ORDER BY q.vec_id""".stripMargin

  // ------------------------------------------ random-projection dimension cut

  /** Projected dimensionality: 64 → 16 is the 4× DIMENSIONALITY cut next
    * to int8's 4× precision cut and PQ's 32× — the third axis of the
    * serving ladder (fewer components vs narrower components vs codes).
    * A constant of the codec, like Int8Version / PqM. */
  val RpDim = 16

  /** Deterministic Rademacher projection of the embedding column to
    * [[RpDim]] doubles — native codegen'd kernel
    * (graft.functions.RpProjectExpr); VectorKernelSpec pins it
    * bit-identical to a composed twin. Map-only: the projection is a
    * row-local expression, so the codec costs one narrow pass at ingest
    * and nothing at query time beyond reading 4× fewer components. */
  def rpProject(emb: Column): Column =
    graft.functions.VectorFunctions.rpProjectF(emb, RpDim)

  /** Oracle fragment: the RP component list of embedding column `e` —
    * unrolled per component (no nested-lambda captures, matching
    * lshSignatureSql's style). */
  private[graft] def rpProjectSql(e: String, dPrime: Int = RpDim): String = {
    val comps = (0 until dPrime).map { p =>
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($e) + 1),
         | i -> CASE WHEN ((i - 1) * 2654435761 + ${p.toLong * 40503L + 12345L}) % 1000 < 500
         |           THEN $e[i]::DOUBLE ELSE -($e[i]::DOUBLE) END)), (acc, x) -> acc + x)""".stripMargin.replaceAll("\n", " ")
    }.mkString(", ")
    s"[$comps]"
  }

  /** The codec's gate row: per-vector projected components in LONG form —
    * one scalar row per (vec_id, dim_idx), the kmeansTrain codebook-dump
    * convention, so every output column is driver-hashable (an
    * array<double> column is not). 4dp is the house output-rounding
    * convention; internal uses stay unrounded. */
  def rpProjectRows(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(rpProject(col("embedding"))).as(Seq("dim_idx", "comp")))
      .select(col("vec_id"), col("label"),
        col("dim_idx").cast("long").as("dim_idx"),
        round(col("comp"), 4).as("comp"))
      .orderBy(col("vec_id"), col("dim_idx"))

  def rpProjectRowsOracle: String =
    s"""WITH r AS MATERIALIZED (SELECT vec_id, label,
       |       ${rpProjectSql("embedding")} AS rp FROM embeddings)
       |SELECT vec_id, label, u.idx::BIGINT AS dim_idx,
       |       round(r.rp[u.idx + 1], 4) AS comp
       |FROM r CROSS JOIN (SELECT unnest(range($RpDim)) AS idx) u
       |ORDER BY vec_id, dim_idx""".stripMargin

  /** Cosine top-k IN THE PROJECTED SPACE — the cheap coarse pass the
    * codec buys (probe projected by the same expression). Zero vectors
    * project to zero → NaN cosine → dropped on both engines (the
    * int8TopK convention). */
  def rpTopK(spark: SparkSession, dir: String, probeId: Long, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), rpProject(col("embedding")).as("rp"))
    val probe = e.filter(col("vec_id") === probeId).select(col("rp").as("prp"))
    e.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        round(graft.functions.VectorFunctions.cosineDF(col("rp"), col("prp")), 4)
          .as("cosine_sim"))
      .filter(!isnan(col("cosine_sim")))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  def rpTopKOracle(probeId: Long, k: Int): String = {
    val cos = cosineSql("r.rp", "p.prp")
    s"""WITH r AS (SELECT vec_id, label, ${rpProjectSql("embedding")} AS rp
       |           FROM embeddings),
       |p AS (SELECT rp AS prp FROM r WHERE vec_id = $probeId)
       |SELECT r.vec_id, r.label, round($cos, 4) AS cosine_sim
       |FROM r CROSS JOIN p
       |WHERE r.vec_id <> $probeId AND NOT isnan($cos)
       |ORDER BY cosine_sim DESC, r.vec_id
       |LIMIT $k""".stripMargin
  }

  // ------------------------------------------------ RP projection artifact

  val RpVersion = 1

  /** The projected-vector artifact (at scale: the ingest-time projection
    * job). Row-local derivation → appendable exactly like the int8/PQ code
    * artifacts (append == rebuild). */
  val RpProj: graft.Artifact = graft.Artifact("graft_rpproj", RpVersion,
    _.select(col("vec_id"), col("label"), rpProject(col("embedding")).as("rp")),
    graft.Artifact.Plain)

  def rpProjOf(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark,
      graft.Materialize.ensure(spark, RpProj, dir, Tables.embeddings(spark, dir)))

  /** rpTopK SERVED from the materialized projected artifact — probe and
    * candidates both read 16-double rows; the plan never scans
    * embeddings.parquet (PlanShapeSpec). Shares rpTopK's oracle. */
  def rpTopKIndexed(spark: SparkSession, dir: String, probeId: Long, k: Int): DataFrame = {
    val t = rpProjOf(spark, dir)
    val probe = t.filter(col("vec_id") === probeId).select(col("rp").as("prp"))
    t.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        round(graft.functions.VectorFunctions.cosineDF(col("rp"), col("prp")), 4)
          .as("cosine_sim"))
      .filter(!isnan(col("cosine_sim")))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Measured MEAN recall@k of projected-space cosine top-k vs the exact
    * float baseline over the BatchProbeMod probe stride (probes projected
    * too — both sides live in the reduced space). The JL lemma predicts
    * bounded angle distortion at d' = 16; this row MEASURES what that
    * does to top-k ranking instead of asserting it — the codec's
    * ann_int8_recall / ann_pq_recall anchor. */
  def rpMeanRecall(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val exProbes = e.filter(col("vec_id") % BatchProbeMod === 0 &&
        col("vec_id") < BatchProbeMod * RecallProbeCap)
      .select(col("vec_id").as("pid"),
        col("embedding").cast("array<double>").as("pemb"))
    val exW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("cs").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(exProbes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        graft.functions.VectorFunctions.cosineDF(
          col("embedding").cast("array<double>"), col("pemb")).as("cs"))
      .filter(!isnan(col("cs")))
      .withColumn("rk", row_number().over(exW)).filter(col("rk") <= k)
      .select(col("pid"), col("vec_id"))
    val rp = e.select(col("vec_id"), rpProject(col("embedding")).as("rp"))
    val rpProbes = rp.filter(col("vec_id") % BatchProbeMod === 0 &&
        col("vec_id") < BatchProbeMod * RecallProbeCap)
      .select(col("vec_id").as("pid"), col("rp").as("prp"))
    val approx = rp.crossJoin(broadcast(rpProbes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        graft.functions.VectorFunctions.cosineDF(col("rp"), col("prp")).as("cs"))
      .filter(!isnan(col("cs")))
      .withColumn("rk", row_number().over(exW)).filter(col("rk") <= k)
      .select(col("pid"), col("vec_id"))
    val perHit = exact.join(approx, Seq("pid", "vec_id"))
      .groupBy(col("pid")).agg(count(lit(1)).as("hits"))
    exact.groupBy(col("pid")).agg(count(lit(1)).as("kx"))
      .join(perHit, Seq("pid"), "left")
      .select(col("pid"), col("kx"), coalesce(col("hits"), lit(0L)).as("hits"))
      .agg(count(lit(1)).as("n_probes"), sum(col("kx")).as("k_total"),
        sum(col("hits")).as("hits_total"),
        (sum(col("hits")).cast("double") / sum(col("kx")).cast("double")).as("recall"))
  }

  def rpMeanRecallOracle(k: Int): String = {
    val cosF = cosineSql("e.embedding", "p.pemb")
    val cosR = cosineSql("a.rp", "p.prp")
    s"""WITH xp AS (SELECT vec_id AS pid, list_transform(embedding, x -> x::DOUBLE) AS pemb
       |       FROM embeddings WHERE vec_id % $BatchProbeMod = 0
       |         AND vec_id < ${BatchProbeMod * RecallProbeCap}),
       |exact AS (SELECT p.pid, e.vec_id FROM embeddings e CROSS JOIN xp p
       |          WHERE e.vec_id <> p.pid AND NOT isnan($cosF)
       |          QUALIFY row_number() OVER (PARTITION BY p.pid
       |                   ORDER BY $cosF DESC, e.vec_id) <= $k),
       |r AS (SELECT vec_id, ${rpProjectSql("embedding")} AS rp FROM embeddings),
       |rp AS (SELECT vec_id AS pid, rp AS prp FROM r
       |       WHERE vec_id % $BatchProbeMod = 0
       |         AND vec_id < ${BatchProbeMod * RecallProbeCap}),
       |approx AS (SELECT p.pid, a.vec_id FROM r a CROSS JOIN rp p
       |           WHERE a.vec_id <> p.pid AND NOT isnan($cosR)
       |           QUALIFY row_number() OVER (PARTITION BY p.pid
       |                    ORDER BY $cosR DESC, a.vec_id) <= $k),
       |ph AS (SELECT pid, count(*)::BIGINT AS hits
       |       FROM exact JOIN approx USING (pid, vec_id) GROUP BY pid),
       |px AS (SELECT pid, count(*)::BIGINT AS kx FROM exact GROUP BY pid)
       |SELECT count(*)::BIGINT AS n_probes, sum(px.kx)::BIGINT AS k_total,
       |       coalesce(sum(ph.hits), 0)::BIGINT AS hits_total,
       |       coalesce(sum(ph.hits), 0)::DOUBLE / sum(px.kx)::DOUBLE AS recall
       |FROM px LEFT JOIN ph USING (pid)""".stripMargin
  }
}
