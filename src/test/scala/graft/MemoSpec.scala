package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Dedup, FuzzySearch}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import SparkJobs.jobsOf

/** [[Memo]]: one entry per key, single-flight cold computes, nothing held
  * after a throw; and the admission-controlled dispatchers it serves
  * construct a warm plan without a Spark job and re-predict once a stats
  * artifact they read grows. */
class MemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val artDir = Files.createTempDirectory("graft-memo-artifacts").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.graft.materialize.dir", artDir)
    .appName("memo-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def key(name: String): (String, String) = ("memo-spec", name)

  test("after k stamp changes a key holds exactly one entry, the latest") {
    val computed = new AtomicInteger
    (1 to 5).foreach { stamp =>
      assert(Memo(key("stamps"), stamp) { computed.incrementAndGet(); stamp * 10 } == stamp * 10)
      assert(Memo(key("stamps"), stamp) { computed.incrementAndGet(); -1 } == stamp * 10)
    }
    assert(computed.get == 5)
    assert(Memo.entries.keys.count(_ == key("stamps")) == 1)
    assert(Memo.entries(key("stamps")) == ((5, 50)))
  }

  test("two threads racing a cold key run compute once") {
    val computed = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val replies = (0 until 2).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          Memo(key("race"), "s") { Thread.sleep(300L); computed.incrementAndGet() }
        }
      }))
      start.countDown()
      assert(replies.map(_.get(60, TimeUnit.SECONDS)) == Seq(1, 1))
      assert(computed.get == 1)
    } finally pool.shutdown()
  }

  test("a throwing compute leaves no entry") {
    intercept[IllegalStateException] {
      Memo(key("throws"), 1)(throw new IllegalStateException("compute failed"))
    }
    assert(!Memo.entries.contains(key("throws")))
    assert(Memo(key("throws"), 1)(7) == 7)
  }

  /** A dir with a part table of near-duplicate names and a documents
    * table whose texts share token runs — enough for every prediction to
    * be non-trivial. */
  private lazy val dir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-memo-data").toString
    val r = new scala.util.Random(13L)
    val words = Array("small", "widget", "brass", "steel", "polished", "copper",
      "anodized", "tin", "large", "medium", "burnished", "plated")
    def phrase(n: Int) = Seq.fill(n)(words(r.nextInt(words.length))).mkString(" ")
    (1 to 300).map(i => (i.toLong, phrase(3))).toDF("p_partkey", "p_name")
      .write.parquet(s"$dir/part.parquet")
    (1 to 80).map(i => (i.toLong, phrase(30))).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def constructAll(): Unit = {
    FuzzySearch.batchFuzzySearchAuto(spark, dir, 20, 10L)
    Dedup.winnowPairsAuto(spark, dir, 10L)
    Dedup.containmentPairsAuto(spark, dir, 0.8, 10L)
  }

  /** key → stamp of every held entry about `dir`. */
  private def stampsOf(d: String): Map[Any, Any] = Memo.entries.collect {
    case (k: Product, (stamp, _)) if k.productIterator.contains(d) => k -> stamp
  }

  test("a warm construction of the auto dispatchers runs no Spark job") {
    constructAll() // cold: builds the stats artifacts and predicts
    val jobs = jobsOf(spark)(constructAll())
    assert(jobs == 0, s"warm construction ran $jobs jobs")
  }

  test("an append to GramDf makes the next construction re-predict") {
    import spark.implicits._
    constructAll()
    val before = stampsOf(dir)
    Materialize.append(spark, FuzzySearch.GramDf, dir,
      FuzzySearch.corpus(spark, dir).filter($"id" <= 5L))
    val jobs = jobsOf(spark)(FuzzySearch.batchFuzzySearchAuto(spark, dir, 20, 10L))
    assert(jobs > 0, "the construction after the append predicted nothing")
    val after = stampsOf(dir)
    assert(after.keySet == before.keySet)
    assert(after.exists { case (k, stamp) => before(k) != stamp })
    assert(jobsOf(spark)(FuzzySearch.batchFuzzySearchAuto(spark, dir, 20, 10L)) == 0)
  }
}
