package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded input tables in the schema of the program's table loaders
  * (`graft.Tables`): `part` (the fuzzy corpus), `customer` (the geo shapes),
  * `documents` and `embeddings`. The same seed always yields the same rows.
  *
  * Names are built from syllables, so the fuzzy corpus has thousands of
  * distinct values (a place-name gazetteer), not the handful of repeated
  * words of a TPC-H `part` table. Documents carry exact and near
  * duplicates and shared passages, so dedup and contamination find work. */
object Inputs {

  final case class Sizes(parts: Int, shapes: Int, docs: Int, vectors: Int, dim: Int)

  /** The row counts of TPC-H scale factor 0.1 (`part` 20,000, `customer`
    * 15,000) and of the 5,000 documents and 2,000 64-dimensional
    * embeddings that go with it. */
  val Sf01 = Sizes(parts = 20000, shapes = 15000, docs = 5000, vectors = 2000, dim = 64)

  private val Syllables: IndexedSeq[String] = {
    val onsets = Seq("b", "br", "c", "ch", "d", "f", "g", "gl", "h", "j", "k", "l", "m",
      "n", "p", "qu", "r", "s", "sh", "st", "t", "tr", "v", "w", "y", "z")
    val rimes = Seq("a", "al", "an", "ar", "e", "el", "en", "er", "i", "in", "is", "o",
      "on", "or", "u", "um", "ville", "ton", "ford", "dale")
    for (o <- onsets.toIndexedSeq; r <- rimes) yield o + r
  }

  private def word(r: Random, minSyl: Int, maxSyl: Int): String =
    (0 until minSyl + r.nextInt(maxSyl - minSyl + 1))
      .map(_ => Syllables(r.nextInt(Syllables.size))).mkString

  /** `n` distinct two-word names. */
  def names(r: Random, n: Int): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += s"${word(r, 2, 3)} ${word(r, 1, 3)}"
    seen.toIndexedSeq
  }

  /** About the language shares of the sf0.1 documents: 40% English, 15%
    * each of four others. */
  private val Langs = Seq("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
    "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /** Document texts: fresh texts drawn from a Zipf-weighted vocabulary,
    * plus exact copies, near copies (a few words substituted) and texts
    * that quote a passage of an earlier text. */
  def docTexts(r: Random, n: Int): IndexedSeq[String] = {
    val vocab = {
      val s = scala.collection.mutable.LinkedHashSet.empty[String]
      while (s.size < 1500) s += word(r, 1, 3)
      s.toIndexedSeq
    }
    val cdf = {
      val w = vocab.indices.map(i => 1.0 / (i + 1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(vocab.size - 1, if (i >= 0) i else -i - 1))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).foreach { i =>
      val u = r.nextDouble()
      val toks =
        if (i > 10 && u < 0.06) out(r.nextInt(i)).clone()
        else if (i > 10 && u < 0.16) {
          val t = out(r.nextInt(i)).clone()
          (0 until 1 + r.nextInt(3)).foreach(_ => t(r.nextInt(t.length)) = draw())
          t
        } else if (i > 10 && u < 0.24) {
          val src = out(r.nextInt(i))
          val len = math.min(src.length, 12)
          val at = r.nextInt(src.length - len + 1)
          Array.fill(10 + r.nextInt(20))(draw()) ++ src.slice(at, at + len) ++
            Array.fill(5 + r.nextInt(10))(draw())
        } else Array.fill(10 + r.nextInt(91))(draw())
      out += toks
    }
    out.map(_.mkString(" ")).toIndexedSeq
  }

  /** Writes the four tables under `dir`. The rows are drawn in order from
    * one seeded generator, then the tables are written concurrently. */
  def writeBase(spark: SparkSession, dir: String, seed: Long, sz: Sizes): Unit = {
    val r = new Random(seed)
    val partNames = names(r, sz.parts)
    val shapeNames = names(r, sz.shapes)
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, StructType, Seq[Row])]
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      tables += ((name, schema, rows))

    write("part", StructType(Seq(
        StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      partNames.zipWithIndex.map { case (nm, i) =>
        Row(i.toLong, nm, s"Brand#${1 + r.nextInt(25)}", segs(r.nextInt(segs.size)),
          1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)
      })
    write("customer", StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
      shapeNames.zipWithIndex.map { case (nm, i) =>
        Row(i.toLong, nm, r.nextInt(25), (r.nextInt(1100000) - 100000) / 100.0,
          segs(r.nextInt(segs.size)))
      })
    write("documents", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))),
      docTexts(r, sz.docs).zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(r.nextInt(Langs.size)), s"src${i % 5}", t.length.toLong)
      })
    val centres = Array.fill(24)(Array.fill(sz.dim)(r.nextGaussian()))
    write("embeddings", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))),
      (0 until sz.vectors).map { i =>
        val c = r.nextInt(centres.length)
        val v = centres(c).map(_ + 0.6 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, c)
      })
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(tables.toSeq.map { case (name, schema, rows) => Future(
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    }), Duration.Inf)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
}
