package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import graft.operators.Similarity
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import OperatorParitySpec.{composedRefineTopKSized, rows}
import SparkJobs.jobsOf

/** The sized ANN face serves from a per-generation model held in driver
  * memory ([[Similarity.AnnModel]]): a warm request runs three Spark jobs,
  * a re-published input builds a new model in place of the old one, and
  * racing cold requests agree. */
class AnnServingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val artDir = Files.createTempDirectory("graft-ann-artifacts").toString
  private val dataDir = Files.createTempDirectory("graft-ann-data").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.graft.materialize.dir", artDir)
    .appName("ann-serving-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshDir(name: String): String =
    Files.createTempDirectory(Paths.get(dataDir), name).toString

  /** `n` unit 64-d vectors around 24 seeded centres, labelled by centre;
    * overwrites an existing table in place. */
  private def writeEmbeddings(dir: String, n: Int, seed: Long): Unit = {
    val r = new scala.util.Random(seed)
    val centres = Array.fill(24)(Array.fill(64)(r.nextGaussian()))
    val data = (0 until n).map { i =>
      val c = r.nextInt(centres.length)
      val v = centres(c).map(_ + 0.6 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, c)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def ann(dir: String, probeId: Long): Seq[String] =
    rows(Similarity.ivf2PqRefineTopKSized(spark, dir, probeId, 10))

  test("a warm request launches at most 3 Spark jobs") {
    val dir = freshDir("budget")
    writeEmbeddings(dir, 1000, 1L)
    assert(ann(dir, 3L).size == 10) // cold: builds the artifacts and the model
    var got = Seq.empty[String]
    val jobs = jobsOf(spark) { got = ann(dir, 17L) }
    assert(jobs <= 3, s"warm request ran $jobs jobs")
    assert(got == rows(composedRefineTopKSized(spark, dir, 17L, 10)))
  }

  test("face == composed plan where the sized plan prunes cells and the ADC shortlist cuts") {
    // 10,000 vectors: 80 cells of which 65 are probed, and a 510-row
    // shortlist out of ~8,000 candidates
    val dir = freshDir("pruned")
    writeEmbeddings(dir, 10000, 2L)
    val (ncells, _, _, nprobe, refine) = Similarity.annRefinePlan(10000L, 10)
    assert(nprobe < ncells && refine * 10 < 8000)
    Seq(0L, 1L, 42L, 777L, 2024L, 4999L, 9999L, 123456L).foreach { id =>
      assert(ann(dir, id) == rows(composedRefineTopKSized(spark, dir, id, 10)),
        s"probe $id")
    }
  }

  test("an embeddings table re-published in place is served from a new model") {
    val dir = freshDir("republish")
    writeEmbeddings(dir, 800, 3L)
    val before = ann(dir, 5L)
    writeEmbeddings(dir, 800, 4L)
    val after = ann(dir, 5L)
    val pristine = freshDir("pristine")
    writeEmbeddings(pristine, 800, 4L)
    assert(after == ann(pristine, 5L))
    assert(after != before)
    // two generations of `dir`, one model held for it, stamped with the
    // dir's current listing
    val tag = Materialize.tag(dir)
    val held = Memo.entries.values.collect {
      case (k: Similarity.AnnKey, _: Similarity.AnnModel) if k.codesPath.contains(tag) => k
    }
    assert(held.size == 1)
    assert(held.head.listing == Memo.listing(spark, dir))
  }

  test("two threads racing the first request on a fresh dir get identical rows") {
    val dir = freshDir("race")
    writeEmbeddings(dir, 800, 5L)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val replies = (0 until 2).map(_ => pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = { start.await(); ann(dir, 7L) }
      }))
      start.countDown()
      val Seq(a, b) = replies.map(_.get(300, TimeUnit.SECONDS))
      assert(a == b && a.size == 10)
      assert(a == rows(composedRefineTopKSized(spark, dir, 7L, 10)))
    } finally pool.shutdown()
  }
}
