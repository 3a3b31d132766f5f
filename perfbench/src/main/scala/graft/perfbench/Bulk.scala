package graft.perfbench

import graft.functions.TextFunctions.charNgramSet
import graft.operators.{FuzzySearch, GeoShapes, RadiusSearch, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Bulk geocoding: each pass answers three request TABLES, each in one
  * plan — fuzzy queries against the posting index, radius probes against
  * the shapes, embedding probes against the IVF index. Every key is
  * distinct within the run, so nothing a pass computes can be reused by a
  * later one. */
object Bulk {

  final case class Sizes(passes: Int, fuzzy: Int, radius: Int, ann: Int)

  val K = 10
  val RadiusMiles = 100.0
  val CentroidMod = 25L
  val NProbe = 2
  val Stages = Seq("fuzzy_batch", "radius_batch", "ann_batch")

  def fuzzyTable(ctx: Ctx, p: Int) = ctx.dir(s"bulk/fuzzy_$p.parquet")
  def radiusTable(ctx: Ctx, p: Int) = ctx.dir(s"bulk/radius_$p.parquet")
  def annTable(ctx: Ctx, p: Int) = ctx.dir(s"bulk/ann_$p.parquet")

  /** Writes the request tables of every pass (input generation). */
  def prepare(ctx: Ctx, dir: String, sz: Sizes): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val r = new Random(ctx.seed ^ 0xb01cL)
    val names = r.shuffle(FuzzySearch.corpus(spark, dir).select("value").collect()
      .map(_.getString(0)).toIndexedSeq)
    val pts = r.shuffle(GeoShapes.shapes(spark, dir).filter(!col("is_aggregate"))
      .select("id", "latitude", "longitude", "country").collect().toIndexedSeq)
    val vecs = r.shuffle(graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect().toIndexedSeq)
    require(names.size >= sz.passes * sz.fuzzy && pts.size >= sz.passes * sz.radius &&
      vecs.size >= sz.passes * sz.ann, "bulk tables need more distinct keys than the input has")
    (0 until sz.passes).foreach { p =>
      (p * sz.fuzzy until (p + 1) * sz.fuzzy)
        .map(i => (i.toLong, Serving.typo(r, FuzzySearch.cleanQuery(names(i)))))
        .toDF("qid", "clean_q").coalesce(1).write.parquet(fuzzyTable(ctx, p))
      (p * sz.radius until (p + 1) * sz.radius).map(pts(_))
        .map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2), x.getString(3)))
        .toDF("probe_id", "p_lat", "p_lng", "p_country").coalesce(1)
        .write.parquet(radiusTable(ctx, p))
      (p * sz.ann until (p + 1) * sz.ann).map(vecs(_))
        .map(x => (x.getLong(0), x.getSeq[Float](1)))
        .toDF("pid", "pemb").coalesce(1).write.parquet(annTable(ctx, p))
    }
  }

  /** Set-up builds: the posting index and the IVF index. */
  def builds(ctx: Ctx, dir: String): Seq[(String, () => Any)] = {
    val spark = ctx.spark
    Seq(
      "postings" -> (() => FuzzySearch.ensurePostingsIndex(spark, dir, FuzzySearch.corpus(spark, dir))),
      "ivf" -> (() => {
        val e = graft.Tables.embeddings(spark, dir)
        Similarity.ensureIvfIndex(spark, dir, e,
          Similarity.centroids(e, CentroidMod, Similarity.IvfNumCentroids),
          CentroidMod, Similarity.IvfNumCentroids)
      }))
  }

  private def stage(spark: SparkSession, dir: String, ctx: Ctx, name: String, p: Int): DataFrame =
    name match {
      case "fuzzy_batch" =>
        val c = FuzzySearch.corpus(spark, dir)
        FuzzySearch.batchFuzzySearchOver(spark.read.parquet(fuzzyTable(ctx, p)),
          spark.read.parquet(FuzzySearch.ensurePostingsIndex(spark, dir, c)), c, K)
      case "radius_batch" =>
        RadiusSearch.radiusSearchBatchOver(spark.read.parquet(radiusTable(ctx, p)),
          GeoShapes.shapes(spark, dir).filter(!col("is_aggregate")), RadiusMiles)
      case "ann_batch" =>
        val e = graft.Tables.embeddings(spark, dir)
        val cent = Similarity.centroids(e, CentroidMod, Similarity.IvfNumCentroids)
        Similarity.ivfBatchTopKOver(spark.read.parquet(annTable(ctx, p)),
          spark.read.parquet(Similarity.ensureIvfIndex(spark, dir, e, cent, CentroidMod,
            Similarity.IvfNumCentroids)), cent, K, NProbe)
    }

  private val KeyCol = Map("fuzzy_batch" -> "qid", "radius_batch" -> "probe_id",
    "ann_batch" -> "probe_id")
  private val Cols = Map(
    "fuzzy_batch" -> Seq("id", "value", "clean_value", "distance", "ngram_similarity", "score"),
    "radius_batch" -> Seq("id", "geo_type", "distance_miles"),
    "ann_batch" -> Seq("vec_id", "label", "cosine_sim"))

  private def fields(r: Row, cols: Seq[String]): String =
    cols.map(c => String.valueOf(r.get(r.fieldIndex(c)))).mkString("|")

  /** Runs the given passes, stopping at the deadline. Returns (rows
    * answered, pass walls) and the collected answers per stage and key. */
  def run(ctx: Ctx, dir: String, sz: Sizes, deadline: Long, passes: Seq[Int])
      : (Long, Seq[Double], Map[String, Map[Long, Seq[String]]]) = {
    val spark = ctx.spark
    graft.plans.ServingPools.claim(spark)
    val answers = Stages.map(_ -> scala.collection.mutable.HashMap.empty[Long, Seq[String]]).toMap
    var rowsAnswered = 0L
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    passes.iterator.takeWhile(_ => System.nanoTime() < deadline).foreach { p =>
      val t0 = System.nanoTime()
      Stages.foreach { st =>
        var got: Array[Row] = Array.empty
        val o = ctx.timed(ctx.execute(st, s"pass$p")(stage(spark, dir, ctx, st, p)) { rows =>
          got = rows; true
        })
        if (o.status == "ok") {
          got.groupBy(r => r.getLong(r.fieldIndex(KeyCol(st)))).foreach { case (k, rs) =>
            answers(st)(k) = rs.toSeq.map(fields(_, Cols(st)))
          }
          rowsAnswered += Map("fuzzy_batch" -> sz.fuzzy, "radius_batch" -> sz.radius,
            "ann_batch" -> sz.ann)(st)
        }
      }
      walls += (System.nanoTime() - t0) / 1e9
    }
    (rowsAnswered, walls.toSeq, answers.map { case (k, v) => k -> v.toMap })
  }

  /** Compares two sampled keys of every stage with the per-request face. */
  def verify(ctx: Ctx, dir: String, passes: Int,
             answers: Map[String, Map[Long, Seq[String]]]): Unit = {
    val spark = ctx.spark
    val r = new Random(ctx.seed ^ 0x7e57L)
    def cmp(st: String, key: Long, expect: DataFrame): Unit = {
      val want = expect.collect().toSeq.map(fields(_, Cols(st)))
      if (!ctx.check(answers(st).getOrElse(key, Seq.empty) == want))
        System.err.println(s"[perfbench] $st key $key differs from the per-request face")
    }
    (0 until 2).foreach { _ =>
      val p = r.nextInt(passes)
      val fq = spark.read.parquet(fuzzyTable(ctx, p)).collect()
      val q = fq(r.nextInt(fq.length))
      cmp("fuzzy_batch", q.getLong(0), FuzzySearch.fuzzySearch(spark, dir, q.getString(1), K))
      val rp = spark.read.parquet(radiusTable(ctx, p)).collect()
      val id = rp(r.nextInt(rp.length)).getLong(0)
      cmp("radius_batch", id, RadiusSearch.radiusSearch(spark, dir, id, RadiusMiles, countryExact = true)
        .filter(!col("is_aggregate")))
      val ap = spark.read.parquet(annTable(ctx, p)).collect()
      val pid = ap(r.nextInt(ap.length)).getLong(0)
      cmp("ann_batch", pid, Similarity.ivfBucketedTopK(spark, dir, pid, K, CentroidMod, NProbe,
        Similarity.IvfNumCentroids))
    }
  }

  /** Candidates each stage generates per query (useful work per attempt):
    * (query, record) pairs sharing a trigram, band-join pairs before the
    * exact ellipse test, and vectors in the probed cells. Pass 0 only. */
  def candidates(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val fq = spark.read.parquet(fuzzyTable(ctx, 0))
    val postings = spark.read.parquet(graft.Materialize.servingPath(spark, "graft_postings", dir, 1))
    val fc = fq.select(col("qid"), explode(charNgramSet(col("clean_q"), 3)).as("ngram"))
      .join(postings, "ngram").select("qid", "id").distinct().count()
    ctx.layers("candidates_per_query.fuzzy_batch") = fc.toDouble / fq.count()

    val rp = spark.read.parquet(radiusTable(ctx, 0))
    val latD = RadiusMiles / graft.functions.GeoFunctions.EarthRadiusMiles * (180.0 / math.Pi)
    val bands = rp.withColumn("band", explode(sequence(
      floor((col("p_lat") - latD) / RadiusSearch.BatchBandDeg),
      floor((col("p_lat") + latD) / RadiusSearch.BatchBandDeg))))
    val shp = GeoShapes.shapes(spark, dir).filter(!col("is_aggregate"))
      .withColumn("band", floor(col("latitude") / RadiusSearch.BatchBandDeg))
    val rc = shp.join(bands, shp("band") === bands("band") && col("country") === col("p_country"))
      .count()
    ctx.layers("candidates_per_query.radius_batch") = rc.toDouble / rp.count()

    val ap = spark.read.parquet(annTable(ctx, 0))
    val e = graft.Tables.embeddings(spark, dir)
    val cent = Similarity.centroids(e, CentroidMod, Similarity.IvfNumCentroids)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
      .orderBy(col("pc").desc, col("cid"))
    val cells = cent.crossJoin(ap)
      .select(col("pid"), col("cid"),
        graft.functions.VectorFunctions.cosineF(col("cemb"), col("pemb")).as("pc"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= NProbe)
      .select(col("cid").as("cell"))
    val sizes = spark.read.parquet(graft.Materialize.servingPath(spark,
        s"graft_ivf_m${CentroidMod}_c${Similarity.IvfNumCentroids}", dir, 1))
      .groupBy("cell").count()
    val ac = cells.join(sizes, "cell").agg(sum("count")).head().getLong(0)
    ctx.layers("candidates_per_query.ann_batch") = ac.toDouble / ap.count()
  }

}
