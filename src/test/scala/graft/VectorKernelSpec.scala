package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Native vector/minhash kernels must be BIT-identical to the composed
  * built-in-expression forms (which the DuckDB oracles mirror). */
class VectorKernelSpec extends AnyFunSuite with BeforeAndAfterAll {
  import VectorKernelSpec._

  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .appName("vector-kernel-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def emb = Tables.embeddings(spark, Sf)

  test("cosine kernel is bit-identical to the composed fold") {
    val probe = emb.filter(col("vec_id") === 0L).select(col("embedding").as("p"))
    val diff = emb.crossJoin(probe)
      .select(Similarity.cosine(col("embedding"), col("p")).as("fast"),
        cosineComposed(col("embedding"), col("p")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
  }

  test("dot kernel is bit-identical to the composed fold") {
    val probe = emb.filter(col("vec_id") === 1L).select(col("embedding").as("p"))
    val diff = emb.crossJoin(probe)
      .select(Similarity.dot(col("embedding"), col("p")).as("fast"),
        dotComposed(col("embedding"), col("p")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
  }

  test("PQ encode kernel is bit-identical to the composed argmin, every (vector, subspace)") {
    val books = Similarity.pqCodebooks(emb, 25L)
    val fast = Similarity.pqEncode(emb, books).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val slow = pqEncodeComposed(emb, books).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fast.nonEmpty && fast == slow)
  }

  test("LSH signature kernel matches the composed form") {
    val diff = emb
      .select(Similarity.lshSignature(col("embedding"), 8).as("fast"),
        lshSignatureComposed(col("embedding"), 8).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
  }

  test("RP projection kernel is bit-identical to the composed fold, every component") {
    val diff = emb
      .select(explode(zip_with(
        Similarity.rpProject(col("embedding")),
        rpProjectComposed(col("embedding")),
        (fast, slow) => fast =!= slow)).as("ne"))
      .filter(col("ne")).count()
    assert(diff == 0)
  }

  test("MinHash signature expression matches the composed pipeline") {
    val fast = Dedup.minhashSignatures(spark, Sf)
    val slow = minhashSignaturesComposed(spark, Sf).withColumnRenamed("sig", "sig2")
    val diff = fast.join(slow, "doc_id").filter(col("sig") =!= col("sig2")).count()
    assert(diff == 0)
  }

  test("sig-agreement est kernel matches the composed HOF, every pair (r16)") {
    // all bucket-sharing pairs of real signatures, plus the null-element
    // edge (empty-shingle docs yield null signature positions)
    val sigs = Dedup.minhashSignatures(spark, Sf)
    val pairs = sigs.as("a").join(sigs.as("b"),
      col("a.doc_id") < col("b.doc_id") &&
        pmod(col("a.doc_id"), lit(13L)) === pmod(col("b.doc_id"), lit(13L)))
    val diff = pairs.select(
        Dedup.sigEst(col("a.sig"), col("b.sig")).as("fast"),
        sigEstComposed(col("a.sig"), col("b.sig")).as("slow"))
      .filter(!(col("fast") <=> col("slow"))).count()
    assert(diff == 0)
  }

  test("shingle-hash set expression matches the composed pipeline") {
    import graft.functions.TextFunctions._
    val d = Tables.documents(spark, Sf)
    val fast = graft.functions.MinHashSignature.shingleHashes(
      lower(col("text")), Dedup.ShingleWords)
    val slow = array_distinct(transform(
      wordShingles(tokens(lower(col("text"))), Dedup.ShingleWords), s => polyHash(s)))
    val diff = d.select(fast.as("f"), slow.as("s"))
      .filter(col("f") =!= col("s")).count()
    assert(diff == 0)
  }

  test("char-ngram kernel matches the composed form incl. edge cases") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val strs = (Seq("", "a", "ab", "abc", "abcd", "banana", "aaaa", "a b c d")
      ++ Tables.part(spark, Sf).select(lower(col("p_name"))).as[String].collect().take(200))
      .toDF("s")
    val diff = strs.select(
        charNgrams(col("s"), 3).as("f1"), charNgramsComposed(col("s"), 3).as("c1"),
        charNgramSet(col("s"), 3).as("f2"), charNgramSetComposed(col("s"), 3).as("c2"))
      .filter(col("f1") =!= col("c1") || col("f2") =!= col("c2")).count()
    assert(diff == 0)
  }

  test("MinHash signature edge cases: empty and short docs") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "   "), (3L, "one"), (4L, "one two"),
      (5L, "one two three"), (6L, "one two three four")).toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
        graft.functions.MinHashSignature.minhashSignature(
          lower(col("text")), 3, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // Empty and whitespace-only docs hash the single empty shingle → sig_i
    // = B_i (polyHash("") = 0).
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) == (0 until 16).map(graft.functions.MinHashSignature.permB))
    // <= k tokens → one whole-doc shingle; 4 tokens → two 3-shingles.
    assert(sigs(5L) != sigs(6L))
    assert(sigs.values.forall(_.length == 16))
  }
}

/** The composed built-in-expression forms (interpreted HOFs) the native
  * kernels are checked against; the DuckDB oracles mirror these. */
object VectorKernelSpec {
  import graft.functions.TextFunctions.{HashMod, polyHash, tokens, wordShingles}

  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosineComposed(a: Column, b: Column): Column =
    dotComposed(a, b) / (sqrt(dotComposed(a, a)) * sqrt(dotComposed(b, b)))

  def lshSignatureComposed(emb: Column, planes: Int): Column = {
    // Pseudo-random plane component for (p, i): centered hash in [-0.5, 0.5).
    def comp(p: Int): Column => Column = i =>
      (pmod(i * 2654435761L + lit(p.toLong) * 40503L + 12345L, lit(1000L)).cast("double") / 1000.0) - 0.5
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(emb, sequence(lit(0L), size(emb).cast("long") - 1L),
          (x, i) => x.cast("double") * comp(p)(i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Per (vector, subspace) argmin over the subspace's codewords; ties →
    * smallest cid. */
  def pqEncodeComposed(e: DataFrame, books: DataFrame): DataFrame = {
    import Similarity.{PqDim, PqM, l2sq}
    val byM = books.groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cemb")))).as("bs"))
    e.withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .join(broadcast(byM), "m")
      .withColumn("sub", slice(col("embedding"), col("m") * PqDim + 1, lit(PqDim))
        .cast("array<double>"))
      .withColumn("best", array_max(transform(col("bs"), b =>
        struct((-l2sq(col("sub"), b("cemb"))).as("nd"), (-b("cid")).as("nc")))))
      .select(col("vec_id"), col("m"), (-col("best.nc")).as("code"))
  }

  /** Unrolled per output component, like lshSignatureComposed. */
  def rpProjectComposed(emb: Column, dPrime: Int = Similarity.RpDim): Column =
    array((0 until dPrime).map { p =>
      aggregate(
        zip_with(emb, sequence(lit(0L), size(emb).cast("long") - 1L),
          (x, i) => when(
            pmod(i * 2654435761L + lit(p.toLong * 40503L + 12345L), lit(1000L)) < 500L,
            x.cast("double")).otherwise(-x.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
    }: _*)

  def charNgramsComposed(c: Column, n: Int): Column =
    when(length(c) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), length(c) - n), i => c.substr(i + 1, lit(n))))

  def charNgramSetComposed(c: Column, n: Int): Column =
    array_distinct(charNgramsComposed(c, n))

  /** The minhash signature in its original composed formulation. */
  def minhashSignaturesComposed(spark: SparkSession, dir: String): DataFrame = {
    import Dedup.{MinHashK, ShingleWords, permA, permB}
    val d = Tables.documents(spark, dir)
    val toks = tokens(lower(col("text")))
    val shingleHashes = array_distinct(transform(
      wordShingles(toks, ShingleWords), s => polyHash(s)))
    val sig = array((0 until MinHashK).map { i =>
      array_min(transform(col("sh"), h => (h * permA(i) + permB(i)) % HashMod))
    }: _*)
    d.select(col("doc_id"), shingleHashes.as("sh"))
      .withColumn("sig", sig)
      .select(col("doc_id"), col("sig"))
  }

  def sigEstComposed(a: Column, b: Column): Column =
    size(filter(sequence(lit(1), lit(Dedup.MinHashK)),
      i => element_at(a, i) === element_at(b, i)))
      .cast("double") / Dedup.MinHashK.toDouble
}
