package graft.perfbench

import graft.operators.{FuzzySearch, GeoShapes, RadiusSearch, Retrieval, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One request family of the serving mix: a pool of request keys, the
  * served face, the reference face that gives the expected answer for a
  * key (computed outside the timed region), and a check every reply must
  * pass whatever its key. */
final case class Family(name: String, weight: Double, keys: IndexedSeq[String],
                        served: String => DataFrame, reference: String => DataFrame,
                        validate: (String, Array[Row]) => Boolean = (_, _) => true)

/** The serving request mix and its closed-loop clients. */
object Serving {

  val FuzzyK = 20
  val TopK = 10
  val Radii = Seq(25.0, 100.0, 500.0)
  /** Zipf exponent of key popularity within a family. */
  val ZipfS = 1.1

  /** One-edit typo (delete, substitute, transpose or insert) past the
    * first character. */
  def typo(r: Random, s: String): String = {
    val i = 1 + r.nextInt(math.max(1, s.length - 2))
    val c = ('a' + r.nextInt(26)).toChar
    r.nextInt(4) match {
      case 0 => s.substring(0, i) + s.substring(i + 1)
      case 1 => s.substring(0, i) + c + s.substring(i + 1)
      case 2 if i + 1 < s.length => s.substring(0, i) + s(i + 1) + s(i) + s.substring(i + 2)
      case _ => s.substring(0, i) + c + s.substring(i)
    }
  }

  private def pick[T](r: Random, xs: IndexedSeq[T], n: Int): IndexedSeq[T] =
    r.shuffle(xs).take(n)

  /** All six serving families over the input tables in `dir`; keys are
    * drawn from the data with the run's seed. */
  def families(spark: SparkSession, dir: String, seed: Long): Map[String, Family] = {
    val r = new Random(seed ^ 0x5eedL)
    val names = FuzzySearch.corpus(spark, dir).select("value").collect()
      .map(_.getString(0)).toIndexedSeq
    val fuzzyKeys = pick(r, names, 256).map(n => typo(r, FuzzySearch.cleanQuery(n))).distinct
    val zips = GeoShapes.shapes(spark, dir).select("zip_code").collect()
      .map(_.getString(0)).toIndexedSeq
    val postalKeys = pick(r, zips, 64).map(z => z.substring(0, 3) + z.substring(4)).distinct
    val pts = GeoShapes.shapes(spark, dir).filter(!col("is_aggregate"))
      .select("id", "latitude", "longitude").collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2))).toIndexedSeq
    // radii cycle with the popularity rank, so every seed's popular keys
    // span the same radii
    val radiusKeys = pick(r, pts, 128).zipWithIndex.map { case ((_, la, lo), i) =>
      f"${la + r.nextGaussian() * 0.3}%.4f,${lo + r.nextGaussian() * 0.3}%.4f,${Radii(i % 3)}"
    }
    val radiusIdKeys = pick(r, pts, 64).zipWithIndex.map { case ((id, _, _), i) =>
      s"$id,${Radii(i % 3)},${i % 2 == 0}"
    }
    val nVec = graft.Tables.embeddings(spark, dir).count()
    val annKeys = (0 until 128).map(_ => (r.nextLong() & Long.MaxValue) % nVec).distinct
      .map(_.toString)
    // mid-frequency terms (document frequency rank 50 to 550), so the
    // posting lists a query reads are alike from seed to seed
    val terms = graft.Tables.documents(spark, dir)
      .select(explode(array_distinct(split(col("text"), " "))).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t"))
      .limit(550).collect().drop(50).map(_.getString(0)).toIndexedSeq
    val bm25Keys = (0 until 128).map(_ => s"${terms(r.nextInt(terms.size))} ${terms(r.nextInt(terms.size))}").distinct

    def ll(k: String) = { val a = k.split(","); (a(0).toDouble, a(1).toDouble, a(2).toDouble) }
    // families served by their only face pass it as their own reference:
    // the check is then that a concurrent reply equals the sequential one
    val postal = (q: String) =>
      FuzzySearch.fuzzySearch(spark, dir, q, FuzzyK, corpusOf = FuzzySearch.zipCorpus)
    val radiusId = (k: String) => {
      val a = k.split(",")
      RadiusSearch.radiusSearch(spark, dir, a(0).toLong, a(1).toDouble, a(2).toBoolean)
    }
    val ann = (k: String) => Similarity.ivf2PqRefineTopKSized(spark, dir, k.toLong, TopK)
    Seq(
      Family("fuzzy", 0.4, fuzzyKeys,
        q => FuzzySearch.fuzzySearchIndexed(spark, dir, q, FuzzyK),
        q => FuzzySearch.fuzzySearch(spark, dir, q, FuzzyK)),
      // the indexed face's artifact key ignores corpusOf, so postal
      // queries go through the inline face
      Family("postal", 0.1, postalKeys, postal, postal),
      Family("radius", 0.2, radiusKeys,
        k => { val (a, b, m) = ll(k); RadiusSearch.radiusLatLngSearchIndexed(spark, dir, a, b, m) },
        k => { val (a, b, m) = ll(k); RadiusSearch.radiusLatLngSearch(spark, dir, a, b, m) }),
      Family("radius_id", 0.1, radiusIdKeys, radiusId, radiusId),
      Family("ann", 0.1, annKeys, ann, ann),
      Family("bm25", 0.1, bm25Keys,
        k => Retrieval.bm25TopK(spark, dir, k.split(" ").toSeq, TopK),
        k => TextAnalysis.bm25TopK(spark, dir, k.split(" ").toSeq, TopK)),
    ).map(f => f.name -> f).toMap
  }

  /** Cumulative Zipf weights over `n` ranks. */
  def zipfCdf(n: Int): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, ZipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** The checked keys of a family: its most popular key, plus one seeded
    * key among the next seven for the families that carry 20% or more of
    * the traffic. */
  def sampleKeys(f: Family, r: Random): Seq[String] = {
    val extra = 1 + r.nextInt(7)
    (if (f.weight >= 0.2) Seq(0, extra) else Seq(0)).filter(_ < f.keys.size).map(f.keys(_))
  }

  /** Reference fingerprints of the sampled keys, computed outside the
    * timed region on `threads` threads. Each family whose served face
    * differs from its reference is then warmed once on its most popular
    * key, and that reply is checked. */
  def references(ctx: Ctx, fams: Seq[Family], threads: Int): Map[(String, String), Int] = {
    val r = new Random(ctx.seed ^ 0xc0ffeeL)
    val jobs = fams.flatMap(f => sampleKeys(f, r).map(k => (f, k)))
    val refs = parallel(ctx.spark, threads, jobs.map { case (f, k) => () =>
      (f.name, k) -> ctx.fingerprint(f.reference(k).collect().toSeq)
    }).toMap
    parallel(ctx.spark, threads, fams.filterNot(f => f.served eq f.reference).map { f => () =>
      val k = f.keys.head
      f.name -> ctx.execute(f.name, k)(f.served(k))(rows =>
        ctx.fingerprint(rows.toSeq) == refs((f.name, k))).status
    }).foreach { case (name, status) =>
      ctx.report(s"warmup.$name") = status
      ctx.check(status == "ok")
    }
    refs
  }

  /** Runs the thunks on a pool of `threads` threads, each claiming its
    * own FAIR pool; returns their results in order. */
  def parallel[T](spark: SparkSession, threads: Int, work: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    try pool.invokeAll(work.map { w =>
        new Callable[T] {
          def call(): T = { graft.plans.ServingPools.claim(spark); w() }
        }
      }.asJava).asScala.map(_.get()).toSeq
    finally {
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
    }
  }

  /** Closed loop: `clients` threads, each sending its next request only
    * after the previous reply, until `stop()` turns true. Each thread
    * claims its own FAIR pool (the deployed serving configuration).
    * Requests come from one seeded schedule the clients share: every round
    * of ten requests holds each family `weight * 10` times in a shuffled
    * order, and keys are drawn by Zipf popularity. Replies whose key is in
    * `refs` are compared with the reference. */
  def closedLoop(ctx: Ctx, fams: Seq[Family], refs: Map[(String, String), Int],
                 clients: Int, stop: () => Boolean): Unit = {
    val round = fams.flatMap(f => Seq.fill(math.round(f.weight * 10).toInt)(f))
    val cdfs = fams.map(f => f.name -> zipfCdf(f.keys.size)).toMap
    val r = new Random(ctx.seed * 1009L)
    val schedule = Iterator.continually(r.shuffle(round)).flatten
      .map(f => (f, f.keys(draw(cdfs(f.name), r.nextDouble()))))
    def next(): Option[(Family, String)] =
      schedule.synchronized(if (stop()) None else Some(schedule.next()))
    parallel(ctx.spark, clients, Seq.fill(clients) { () =>
      Iterator.continually(next()).takeWhile(_.isDefined).flatten.foreach { case (f, k) =>
        val ref = refs.get((f.name, k))
        ctx.timed(ctx.execute(f.name, k)(f.served(k))(rows =>
          f.validate(k, rows) && ref.forall(_ == ctx.fingerprint(rows.toSeq))))
      }
    })
  }

  /** Input properties of the request stream the run sent. */
  def streamProperties(ctx: Ctx, refs: Map[(String, String), Int]): Unit = {
    val os = ctx.all.sortBy(_.startNs)
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    val repeats = os.count(o => !seen.add((o.family, o.key)))
    ctx.report("requests_per_family") =
      scala.collection.immutable.TreeMap(
        os.groupBy(_.family).view.mapValues(_.size).toSeq: _*)
    ctx.report("repeat_share") = if (os.isEmpty) 0.0 else repeats.toDouble / os.size
    ctx.report("checked_replies") = os.count(o => refs.contains((o.family, o.key)))
  }
}
