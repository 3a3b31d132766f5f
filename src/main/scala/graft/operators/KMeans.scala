package graft.operators

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spherical k-means (Lloyd iterations, cosine assignment) over the
  * `embeddings` table — the TRAINED fixed-size IVF codebook that
  * `Similarity`'s deterministic-sample codebook stands in for
  * (Similarity.scala notes "at scale this is a trained k-means codebook");
  * this is that training job, DataFrame-only, no driver-side collect.
  *
  * Scale shape (per iteration, any corpus size):
  *  - the C-row codebook is folded into ONE row (`collect_list` of C
  *    structs) and broadcast; cell assignment is then a PER-ROW argmax over
  *    the broadcast array (higher-order function) — a map-only stage: no
  *    N-row shuffle, no N×C join materialization;
  *  - the centroid update explodes dims in-pipeline and partially
  *    aggregates, so the only shuffle is C×D rows per upstream partition.
  *
  * Cross-engine exactness (the gate is bit-exact, see memory rules): float
  * means are order-nondeterministic under parallel summation, so normalized
  * elements are quantized with floor(el/‖x‖·1e6) — the norm is the same
  * left-to-right fold on both engines and floor of an identical IEEE
  * quotient is bit-exact, unlike decimal-string rounding — summed as
  * integers (associative, exact), and divided ONCE into a double. Every
  * trained centroid is therefore bit-identical in Spark and DuckDB, and so
  * is every subsequent assignment.
  *
  * Degenerate edges, aligned on both engines: a centroid with no members
  * drops out (standard Lloyd); an all-zero vector (or zero centroid) has
  * NaN cosine everywhere — Spark's struct-max and DuckDB's `ORDER BY cos
  * DESC, cid` both treat NaN as greatest and tie-break to the smallest cid.
  */
object KMeans {

  /** Quantization scale for centroid means: floor(el * 1e6). */
  val QuantScale = 1000000L

  val DefaultIters = 2

  private def cosD(a: Column, b: Column): Column = VectorFunctions.cosineDF(a, b)

  /** Seed codebook: every `mod`-th vector, capped at `numCentroids` — the
    * same constant-size deterministic sample Similarity.ivfTopK quantizes
    * with, widened to Array[Double]. */
  private def seeds(e: DataFrame, mod: Long, numCentroids: Int): DataFrame =
    e.filter(col("vec_id") % mod === 0 && col("vec_id") < mod * numCentroids)
      .select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("cemb"))

  /** Map-only cell assignment: fold the codebook to one broadcast row of
    * sorted (cid, cemb) structs, then per-row argmax cosine (tie → smallest
    * cid) without any join multiplication or shuffle. */
  private[graft] def assign(e: DataFrame, cent: DataFrame): DataFrame = {
    val centArr = cent
      .agg(array_sort(collect_list(struct(col("cid"), col("cemb")))).as("cents"))
    e.crossJoin(broadcast(centArr))
      .withColumn("best", array_max(transform(col("cents"),
        c => struct(cosD(col("embedding").cast("array<double>"), c("cemb")).as("c"),
          (-c("cid")).as("nc")))))
      .withColumn("cell", -col("best.nc"))
      .drop("cents", "best")
  }

  /** One centroid update: per-(cell, dim) integer sums + member counts over
    * UNIT-NORMALIZED members — the spherical-k-means mean. Normalizing
    * before averaging is what makes the update a true ascent step for the
    * cosine objective on corpora with varying norms: cos(x, c) = x̂·ĉ, so
    * the within-cell cosine sum is maximized by the direction of Σ x̂ (the
    * mean of UNIT vectors), not of Σ x. The norm is the same left-to-right
    * fold on both engines (dotKernel ↔ list_reduce), so floor-quantization
    * stays bit-exact. A zero vector (norm 0) contributes a zero numerator
    * but still counts in `n` — same CASE on both engines.
    * Output: (cell, idx, qs, n). */
  private def update(assigned: DataFrame): DataFrame =
    assigned
      .withColumn("nrm",
        sqrt(VectorFunctions.dotF(col("embedding"), col("embedding"))))
      .select(col("cell"), col("nrm"), posexplode(col("embedding")).as(Seq("idx", "el")))
      .withColumn("q", when(col("nrm") === 0d, lit(0L))
        .otherwise(floor(col("el").cast("double") / col("nrm") * QuantScale.toDouble)
          .cast("long")))
      .groupBy(col("cell"), col("idx"))
      .agg(sum(col("q")).as("qs"), count(lit(1)).as("n"))

  /** Dequantized centroid element: ONE double division of exact integers. */
  private def cval: Column =
    col("qs").cast("double") / (col("n").cast("double") * QuantScale.toDouble)

  /** Reassemble (cell, idx, qs, n) rows into a (cid, cemb) codebook. */
  private def toCodebook(u: DataFrame): DataFrame =
    u.select(col("cell"), col("idx"), cval.as("cv"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("idx"), col("cv")))).as("s"))
      .select(col("cell").as("cid"), transform(col("s"), x => x("cv")).as("cemb"))

  /** v2: spherical (unit-normalized) centroid means since round 4. The
    * quantization scale and mean convention are content-determining but
    * invisible in the kind — ArtifactParams golden-pins them against
    * this version (the round-15 tripwire). */
  val TrainedCentroidsVersion = 2

  /** The trained codebook after `iters` Lloyd iterations — materialized
    * write-once (training is an ingest-time job; queries read the tiny
    * C-row artifact instead of re-running the iterations). */
  def trainedCentroids(spark: SparkSession, dir: String, iters: Int = DefaultIters,
                       mod: Long = 25L, numCentroids: Int = Similarity.IvfNumCentroids): DataFrame =
    Tables.parquet(spark, ensureTrainedCentroids(spark, dir, iters, mod, numCentroids))

  /** The committed generation [[trainedCentroids]] reads. */
  def ensureTrainedCentroids(spark: SparkSession, dir: String, iters: Int,
                             mod: Long, numCentroids: Int): String =
    graft.Materialize.ensure(
      spark, s"graft_kmeans_i${iters}_m${mod}_c$numCentroids", dir,
      version = TrainedCentroidsVersion) { p =>
      val e = Tables.embeddings(spark, dir)
      (1 to iters).foldLeft(seeds(e, mod, numCentroids)) {
        (cent, _) => toCodebook(update(assign(e, cent)))
      }.write.mode("overwrite").parquet(p)
    }

  /** Gate query: the final iteration's update state in long form — one row
    * per (cell, dimension) with the exact integer sum shipped as the
    * bit-identical unrounded double mean and the cluster size.
    *
    * `n_members` is the membership count under re-assignment to the FINAL
    * codebook (the post-training partition a consumer would observe), NOT
    * the divisor that produced `c_val` — that count came from assignment
    * to the previous iteration's codebook. The two differ for any cell
    * whose boundary moved on the last update. */
  def kmeansTrain(spark: SparkSession, dir: String, iters: Int = DefaultIters,
                  mod: Long = 25L, numCentroids: Int = Similarity.IvfNumCentroids): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val lastUpdate = trainedCentroids(spark, dir, iters, mod, numCentroids)
    // Re-derive the long form from the final codebook: one more explode of
    // the C×D codebook rows (constant-size, trivially cheap) keeps the fold
    // above uniform. n_members is recovered by a final assignment count.
    val members = assign(e, lastUpdate)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    lastUpdate
      .select(col("cid").as("cell"), posexplode(col("cemb")).as(Seq("dim_idx", "c_val")))
      .join(members, "cell")
      .select(col("cell"), col("dim_idx").cast("long").as("dim_idx"),
        col("c_val"), col("n_members"))
      .orderBy(col("cell"), col("dim_idx"))
  }

  /** Spherical k-means objective after `iters` iterations: the mean cosine
    * of every vector to its assigned centroid. With unit-normalized member
    * means (see [[update]]) Lloyd iterations can never decrease this —
    * reassignment picks the max-cosine centroid per vector, and the mean
    * of the members' unit vectors maximizes each cell's cosine sum — up to
    * the 1e-6 centroid quantization, the slack KMeansSpec carries. */
  def objective(spark: SparkSession, dir: String, iters: Int,
                mod: Long = 25L, numCentroids: Int = Similarity.IvfNumCentroids): Double = {
    val e = Tables.embeddings(spark, dir)
    val cent =
      if (iters == 0) seeds(e, mod, numCentroids)
      else trainedCentroids(spark, dir, iters, mod, numCentroids)
    val centArr = cent
      .agg(array_sort(collect_list(struct(col("cid"), col("cemb")))).as("cents"))
    e.crossJoin(broadcast(centArr))
      .select(array_max(transform(col("cents"),
        c => struct(cosD(col("embedding").cast("array<double>"), c("cemb")).as("c"),
          (-c("cid")).as("nc"))))("c").as("best_cos"))
      .agg(avg(when(isnan(col("best_cos")), 0.0).otherwise(col("best_cos"))))
      .head().getDouble(0)
  }

  /** IVF top-k over the TRAINED codebook — `Similarity.ivfTopK` with the
    * Lloyd-trained centroids in place of the raw sample: map-only cell
    * assignment (per-row argmax over the one-row broadcast codebook — no
    * N×C join, no assignment shuffle), nprobe best cells by probe cosine,
    * exact float-kernel re-rank over only the candidate cells. At 100 TB
    * the assignment is the ingest-time product (see ivfBucketedTopK); the
    * query-side plan here is identical to the sample-codebook path, so the
    * training quality improvement is free at query time. */
  def ivfTrainedTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
                     iters: Int = DefaultIters, mod: Long = 25L,
                     numCentroids: Int = Similarity.IvfNumCentroids,
                     nprobe: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = trainedCentroids(spark, dir, iters, mod, numCentroids)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").as("pemb"))
    val probeCells = cent.crossJoin(broadcast(probe))
      .select(col("cid"), cosD(col("cemb"), col("pemb").cast("array<double>")).as("pc"))
      .orderBy(col("pc").desc, col("cid")).limit(nprobe)
      .select(col("cid").as("cell"))
    assign(e, cent)
      .join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        round(Similarity.cosine(col("embedding"), col("pemb")), 4).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  def ivfTrainedTopKOracle(probeId: Long, k: Int, iters: Int = DefaultIters,
                           mod: Long = 25L,
                           numCentroids: Int = Similarity.IvfNumCentroids,
                           nprobe: Int = 2): String = {
    val cosA = Similarity.cosineSql("e.embedding", "c.cemb")
    s"""WITH ${trainCtes(iters, mod, numCentroids)},
       |af AS (SELECT e.vec_id, c.cid AS cell
       |       FROM embeddings e CROSS JOIN cent$iters c
       |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |                                  ORDER BY $cosA DESC, c.cid) = 1),
       |probe AS (SELECT embedding AS pemb FROM embeddings WHERE vec_id = $probeId),
       |pc AS (SELECT c.cid, ${Similarity.cosineSql("c.cemb", "p.pemb")} AS pcos
       |       FROM cent$iters c CROSS JOIN probe p),
       |cells AS (SELECT cid AS cell FROM pc ORDER BY pcos DESC, cid LIMIT $nprobe),
       |cand AS (SELECT a.vec_id FROM af a JOIN cells USING (cell)
       |         WHERE a.vec_id <> $probeId)
       |SELECT e.vec_id, e.label,
       |       round(${Similarity.cosineSql("e.embedding", "p.pemb")}, 4) AS cosine_sim
       |FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN probe p
       |ORDER BY cosine_sim DESC, e.vec_id
       |LIMIT $k""".stripMargin
  }

  // ------------------------------------------------------------ PQ trainer

  /** Per-subspace L2 Lloyd — the PROPER product-quantization codebook
    * trainer (PQ minimizes per-subspace squared L2, so its Lloyd step is
    * the plain quantized mean: no normalization, unlike the spherical
    * trainer above). Assignment per iteration IS the PQ encode (the same
    * native kernel the query path uses — one eval per vector for all M
    * subspaces); the update explodes subvector dims and integer-quantizes
    * exactly like [[update]], so trained codewords are bit-identical
    * cross-engine. A codeword losing all members in a subspace drops out
    * of that subspace's book (standard Lloyd). Materialized write-once:
    * training is an ingest job; queries read the tiny M×K artifact. */
  def trainedPqBooks(spark: SparkSession, dir: String, iters: Int = DefaultIters,
                     mod: Long = 25L): DataFrame = {
    // geometry in the KIND (the graft_pqcodes convention): a books
    // artifact trained at one (PqM, PqK) must never serve another —
    // caught live in round 14 when the geometry changed and the stale
    // 8-subspace books nulled every 16-subspace encode join
    val path = graft.Materialize.ensure(
      spark, s"graft_pqbooks_i${iters}_m${mod}_m${Similarity.PqM}k${Similarity.PqK}",
      dir, version = 1) { p =>
      val e = Tables.embeddings(spark, dir)
      (1 to iters).foldLeft(Similarity.pqCodebooks(e, mod)) { (books, _) =>
        pqUpdate(e, Similarity.pqEncode(e, books))
      }.write.mode("overwrite").parquet(p)
    }
    Tables.parquet(spark, path)
  }

  /** One PQ Lloyd update: per-(subspace, codeword, dim) quantized means
    * over the members' raw subvector elements. */
  private def pqUpdate(e: DataFrame, codes: DataFrame): DataFrame = {
    val subEl = e
      .withColumn("m", explode(sequence(lit(0), lit(Similarity.PqM - 1))))
      .select(col("vec_id"), col("m"),
        posexplode(slice(col("embedding"), col("m") * Similarity.PqDim + 1,
          lit(Similarity.PqDim)).cast("array<double>")).as(Seq("idx", "el")))
    subEl.join(codes, Seq("vec_id", "m"))
      .withColumn("q", floor(col("el") * QuantScale.toDouble).cast("long"))
      .groupBy(col("m"), col("code"), col("idx"))
      .agg(sum(col("q")).as("qs"), count(lit(1)).as("n"))
      .groupBy(col("m"), col("code"))
      .agg(array_sort(collect_list(struct(col("idx"), cval.as("cv")))).as("s"))
      .select(col("m"), col("code").as("cid"),
        transform(col("s"), x => x("cv")).as("cemb"))
  }

  /** PQ-ADC top-k over the TRAINED subspace codebooks — `pqTopK` with the
    * Lloyd-trained books in place of the raw sample; same encode kernel,
    * same LUT + m-ordered fold tail, shared plan machinery. */
  def pqTrainedTopK(spark: SparkSession, dir: String, probeId: Long, k: Int,
                    iters: Int = DefaultIters, mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val books = trainedPqBooks(spark, dir, iters, mod)
    Similarity.pqAdcTopK(Similarity.pqEncode(e, books), books, e, probeId, k)
  }

  /** Measured MEAN recall@k of the trained-codebook ADC vs exact squared
    * L2 over the probe stride — the number that shows what training buys
    * over the raw sample (`ann_pq_recall` is the sample anchor; the mean
    * is the comparison single-probe recall is too noisy to support). */
  def pqTrainedRecall(spark: SparkSession, dir: String, k: Int,
                      iters: Int = DefaultIters, mod: Long = 25L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.pqMeanRecallWith(e, trainedPqBooks(spark, dir, iters, mod), k)
  }

  /** CTE chain `sub, pb0, pa1, px1, pu1, pb1, …` reproducing the
    * per-subspace L2 training fold in DuckDB, ending in a `books`
    * relation compatible with Similarity.pqAdcCtes. */
  def pqTrainCtes(iters: Int, mod: Long): String = {
    import Similarity.{PqDim, PqK, PqM}
    val sub =
      s"""sub AS (SELECT e.vec_id, ms.m,
         |               list_transform(range(1, ${PqDim + 1}),
         |                 i -> e.embedding[ms.m * $PqDim + i]::DOUBLE) AS sv
         |        FROM embeddings e
         |        CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms)""".stripMargin
    val pb0 =
      s"""pb0 AS (SELECT m, vec_id AS cid, sv AS cemb FROM sub
         |        WHERE vec_id % $mod = 0 AND vec_id < ${mod * PqK})""".stripMargin
    val steps = (1 to iters).map { t =>
      val dist = Similarity.l2sqSql(i => s"s.sv[$i]", "b.cemb")
      s"""pa$t AS (SELECT s.vec_id, s.m, b.cid AS code
         |        FROM sub s JOIN pb${t - 1} b ON b.m = s.m
         |        QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.m
         |                                   ORDER BY $dist, b.cid) = 1),
         |px$t AS (SELECT a.m, a.code,
         |                unnest(range(len(s.sv))) AS idx,
         |                unnest(s.sv) AS el
         |         FROM sub s JOIN pa$t a ON a.vec_id = s.vec_id AND a.m = s.m),
         |pu$t AS (SELECT m, code, idx,
         |                sum(floor(el * $QuantScale.0)::BIGINT) AS qs,
         |                count(*) AS n
         |         FROM px$t GROUP BY m, code, idx),
         |pb$t AS (SELECT m, code AS cid,
         |                list(qs::DOUBLE / (n::DOUBLE * $QuantScale.0) ORDER BY idx) AS cemb
         |         FROM pu$t GROUP BY m, code)""".stripMargin
    }
    (sub +: pb0 +: steps).mkString(",\n") +
      s",\nbooks AS (SELECT m, cid, cemb FROM pb$iters)"
  }

  def pqTrainedTopKOracle(probeId: Long, k: Int, iters: Int = DefaultIters,
                          mod: Long = 25L): String =
    s"""WITH ${pqTrainCtes(iters, mod)},
       |${Similarity.pqAdcCtes(probeId)}
       |SELECT a.vec_id, e.label, a.pq_dist
       |FROM adc a JOIN embeddings e USING (vec_id)
       |WHERE a.vec_id <> $probeId
       |ORDER BY a.pq_dist, a.vec_id
       |LIMIT $k""".stripMargin

  def pqTrainedRecallOracle(k: Int, iters: Int = DefaultIters,
                            mod: Long = 25L): String =
    s"""WITH ${pqTrainCtes(iters, mod)},
       |${Similarity.pqMeanRecallSql(k)}""".stripMargin

  // ----------------------------------------------------------------- oracle

  /** CTE chain `cent0, a1, x1, u1, cent1, …, cent$iters` reproducing the
    * training fold in DuckDB; embed before the final SELECT. */
  def trainCtes(iters: Int, mod: Long, numCentroids: Int): String =
    trainCtesBound(iters, mod, (mod * numCentroids).toString)

  /** [[trainCtes]] with the seed-id bound as a SQL expression instead of
    * a literal — for oracles whose codebook size derives from a plan CTE
    * (the sized refine ladder: ncells from count(*)). */
  def trainCtesBound(iters: Int, mod: Long, boundSql: String): String = {
    val cent0 =
      s"""cent0 AS (SELECT vec_id AS cid,
         |            list_transform(embedding, x -> x::DOUBLE) AS cemb
         |          FROM embeddings
         |          WHERE vec_id % $mod = 0 AND vec_id < ($boundSql))""".stripMargin
    val steps = (1 to iters).map { t =>
      val cos = Similarity.cosineSql("e.embedding", "c.cemb")
      s"""a$t AS (SELECT e.vec_id, c.cid AS cell
         |       FROM embeddings e CROSS JOIN cent${t - 1} c
         |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |                                  ORDER BY $cos DESC, c.cid) = 1),
         |x$t AS (SELECT a.cell,
         |               unnest(range(len(e.embedding))) AS idx,
         |               unnest(e.embedding) AS el,
         |               sqrt(${Similarity.dotSql("e.embedding", "e.embedding")}) AS nrm
         |        FROM embeddings e JOIN a$t a USING (vec_id)),
         |u$t AS (SELECT cell, idx,
         |               sum(CASE WHEN nrm = 0 THEN 0
         |                        ELSE floor(el::DOUBLE / nrm * $QuantScale.0)::BIGINT END) AS qs,
         |               count(*) AS n
         |        FROM x$t GROUP BY cell, idx),
         |cent$t AS (SELECT cell AS cid,
         |                  list(qs::DOUBLE / (n::DOUBLE * $QuantScale.0) ORDER BY idx) AS cemb
         |           FROM u$t GROUP BY cell)""".stripMargin
    }
    (cent0 +: steps).mkString(",\n")
  }

  def kmeansTrainOracle(iters: Int = DefaultIters, mod: Long = 25L,
                        numCentroids: Int = Similarity.IvfNumCentroids): String = {
    val cos = Similarity.cosineSql("e.embedding", "c.cemb")
    s"""WITH ${trainCtes(iters, mod, numCentroids)},
       |af AS (SELECT e.vec_id, c.cid AS cell
       |       FROM embeddings e CROSS JOIN cent$iters c
       |       QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |                                  ORDER BY $cos DESC, c.cid) = 1),
       |m AS (SELECT cell, count(*) AS n_members FROM af GROUP BY cell)
       |SELECT c.cid AS cell, (u.idx)::BIGINT AS dim_idx,
       |       c.cemb[u.idx + 1] AS c_val, m.n_members
       |FROM cent$iters c
       |JOIN (SELECT cid AS cell, unnest(range(len(cemb))) AS idx
       |      FROM cent$iters) u ON u.cell = c.cid
       |JOIN m ON m.cell = c.cid
       |ORDER BY cell, dim_idx""".stripMargin
  }
}
