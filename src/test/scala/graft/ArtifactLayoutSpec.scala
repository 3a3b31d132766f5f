package graft

import java.nio.file.Files

import graft.operators._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The written layout of every appendable [[Artifact]] kind, pinned: after
  * ensure over a base slice, after an append of the rest, and after a
  * compaction, each kind's generation must hold the same data-file count,
  * the same `cell=` directories and the same per-file parquet schemas as
  * the per-kind faces the descriptors replaced wrote (golden rows below,
  * recorded with those faces on this spec's inputs and session). Layout
  * drift would move the benchmark's `storage_ratio` and the serving reads'
  * pruning long before any row compare noticed. Compaction must also
  * leave the artifact reading as the fold of what it read before.
  *
  * Inputs: seeded documents, embeddings and fuzzy corpora, split into a
  * base and a batch slice and written to this spec's temp dir, which keys
  * the artifacts. */
class ArtifactLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val artDir = Files.createTempDirectory("graft-layout-artifacts").toString
  private val dir = Files.createTempDirectory("graft-layout-data").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.graft.materialize.dir", artDir)
    .appName("artifact-layout-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Writes `df` split by `inBase` as `<dir>/<name>.parquet` (base) and
    * `<dir>/batch/<name>.parquet`, one file each. */
  private def split(name: String, df: DataFrame, inBase: Column): Unit = {
    df.filter(inBase).coalesce(1).write.parquet(s"$dir/$name.parquet")
    df.filter(!inBase).coalesce(1).write.parquet(s"$dir/batch/$name.parquet")
  }

  /** Seeded inputs: 350 documents (every fifth a light edit of an earlier
    * one, so the dedup-shaped kinds see shared windows), 500 64-d
    * embeddings and a 400-name fuzzy corpus with a country column. */
  private lazy val written: Unit = {
    import spark.implicits._
    val r = new scala.util.Random(42)
    val syll = Seq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "va", "gu", "sh")
    val vocab = Seq.fill(150)(Seq.fill(2 + r.nextInt(3))(syll(r.nextInt(syll.size))).mkString)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (1 to 350).foreach { i =>
      texts += (if (i % 5 == 0) texts(r.nextInt(texts.size)).split(" ")
          .map(w => if (r.nextInt(10) == 0) vocab(r.nextInt(vocab.size)) else w).mkString(" ")
        else Seq.fill(20 + r.nextInt(40))(vocab(r.nextInt(vocab.size))).mkString(" "))
    }
    split("documents", texts.toSeq.zipWithIndex.map { case (t, i) =>
        (i + 1L, t, "en", Seq("web", "books", "news")(i % 3), t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"),
      pmod(col("doc_id"), lit(7)) =!= 0)
    split("embeddings", (0 until 500).map(i =>
        (i.toLong, Array.fill(64)(r.nextGaussian().toFloat), i % 10)
      ).toDF("vec_id", "embedding", "label"),
      pmod(col("vec_id"), lit(3)) =!= 0)
    val names = (1 to 400).map(i => (i.toLong,
        s"${vocab(r.nextInt(vocab.size))} ${vocab(r.nextInt(vocab.size))}",
        Seq("US", "DE", "FR", "JP")(r.nextInt(4))))
      .toDF("id", "value", "country")
      .withColumn("clean_value", graft.functions.TextFunctions.cleanEntity(col("value")))
      .withColumn("population", col("id") * 37L % 1000000L)
    split("corpus", names.drop("country"), pmod(col("id"), lit(7)) =!= 0)
    split("zips", names, pmod(col("id"), lit(7)) =!= 0)
  }

  private def base(t: String): DataFrame = { written; spark.read.parquet(s"$dir/$t.parquet") }
  private def batch(t: String): DataFrame = { written; spark.read.parquet(s"$dir/batch/$t.parquet") }

  /** The 18 appendable kinds, each with the table it derives from. The
    * frozen upstreams (IVF codebook, PQ codebooks) come from the whole
    * embeddings table, as a retrain-free ingest would hold them. */
  private lazy val cases: Seq[(Artifact, String)] = {
    val e = base("embeddings").unionByName(batch("embeddings"))
    val cent = Similarity.centroids(e, 25L, Similarity.IvfNumCentroids)
    val books = Similarity.pqCodebooks(e, 25L)
    Seq(
      FuzzySearch.Postings -> "corpus",
      FuzzySearch.partPostings() -> "zips",
      FuzzySearch.GramDf -> "corpus",
      FuzzySearch.GramN -> "corpus",
      FuzzySearch.FuzzyLsh -> "corpus",
      Similarity.ivfIndex(cent, 25L, Similarity.IvfNumCentroids) -> "embeddings",
      Similarity.pqCodes(books) -> "embeddings",
      Similarity.ivfPqCodes(cent, books, 25L, Similarity.IvfNumCentroids) -> "embeddings",
      Similarity.Int8Codes -> "embeddings",
      Similarity.RpProj -> "embeddings",
      Dedup.WinnowDf -> "documents",
      Dedup.WinnowSel -> "documents",
      Dedup.BandIndex -> "documents",
      CorpusPrep.DocWins -> "documents",
      CorpusPrep.docBase(spark, dir) -> "documents",
      Retrieval.WordPostings -> "documents",
      Retrieval.WordStats -> "documents",
      Dsir.Model -> "documents")
  }

  /** `files=<n> cells=<cell values or -> <schema> x<files>[ | …]`: the data
    * files under the generation (recursively), the `cell=` directories
    * holding them, and each distinct parquet footer schema with the number
    * of files carrying it. */
  private def layout(p: String): String = {
    val root = new Path(p)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val rootName = fs.makeQualified(root).toString
    val it = fs.listFiles(root, true)
    val files = scala.collection.mutable.ArrayBuffer[Path]()
    while (it.hasNext) {
      val f = it.next().getPath
      if (!f.toString.stripPrefix(rootName).split("/")
          .exists(s => s.startsWith("_") || s.startsWith("."))) files += f
    }
    val cells = files.map(_.getParent.getName).filter(_.startsWith("cell="))
      .map(_.stripPrefix("cell=").toInt).distinct.sorted
    val schemas = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getFileMetaData.getSchema.toString.replaceAll("\\s+", " ")
        .trim.stripPrefix("message spark_schema { ").stripSuffix(" }")
      finally r.close()
    }.groupBy(identity).map { case (s, v) => s"$s x${v.size}" }.toSeq.sorted
    s"files=${files.size} cells=${if (cells.isEmpty) "-" else cells.mkString(",")} " +
      schemas.mkString(" | ")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val golden: Map[(String, String), String] = Seq(
    ("graft_postings", "ensure", "files=32 cells=- required binary ngram (STRING); optional int64 id; x32"),
    ("graft_partpost_country", "ensure", "files=32 cells=- optional int64 id; optional binary partition (STRING); required binary ngram (STRING); x32"),
    ("graft_gramdf", "ensure", "files=1 cells=- required binary ngram (STRING); required int64 df; x1"),
    ("graft_gramn", "ensure", "files=1 cells=- required int64 n; x1"),
    ("graft_fuzzylsh", "ensure", "files=32 cells=- required int32 band_idx; optional int64 band_hash; optional binary clean_value (STRING); x32"),
    ("graft_ivf_m25_c16", "ensure", "files=16 cells=0,25,50,75,100,125,150,175,200,225,250,275,300,325,350,375 optional int64 vec_id; optional group embedding (LIST) { repeated group list { optional float element; } } optional int32 label; x16"),
    ("graft_pqcodes_m16k64", "ensure", "files=8 cells=- optional int64 vec_id; optional group codes (LIST) { repeated group list { required int64 element; } } x8"),
    ("graft_ivfpq_m25_c16_m16k64", "ensure", "files=16 cells=0,25,50,75,100,125,150,175,200,225,250,275,300,325,350,375 optional int64 vec_id; optional group codes (LIST) { repeated group list { required int64 element; } } x16"),
    ("graft_int8codes", "ensure", "files=1 cells=- optional int64 vec_id; optional int32 label; optional double scale; optional group codes (LIST) { repeated group list { optional int64 element; } } x1"),
    ("graft_rpproj", "ensure", "files=1 cells=- optional int64 vec_id; optional int32 label; optional group rp (LIST) { repeated group list { required double element; } } x1"),
    ("graft_winnowdf", "ensure", "files=1 cells=- optional int64 fp; required int64 c; x1"),
    ("graft_winnowsel", "ensure", "files=8 cells=- optional int64 doc_id; optional int64 fp; x8"),
    ("graft_bands", "ensure", "files=32 cells=- optional int64 doc_id; optional group sig (LIST) { repeated group list { required int64 element; } } required int32 band_idx; optional int64 band_hash; x32"),
    ("graft_docwins", "ensure", "files=32 cells=- optional int64 doc_id; required int64 w_hash; x32"),
    ("graft_docbase", "ensure", "files=1 cells=- optional int64 doc_id; optional binary source (STRING); required binary lang_pred (STRING); optional double quality_score; optional int64 q_q; optional int64 n_tok; optional int64 n_pieces; optional int64 content_hash; required int64 screen_hash; required int64 norm_hash; required double lm_score; x1"),
    ("graft_wordpostings", "ensure", "files=31 cells=- required binary term (STRING); optional int64 doc_id; optional int64 dl; required int64 tf; x31"),
    ("graft_wordstats", "ensure", "files=1 cells=- required int64 n; optional int64 sdl; x1"),
    ("graft_dsirmodel", "ensure", "files=1 cells=- required int64 bucket; required int64 t; required int64 q; x1"),
    ("graft_postings", "append", "files=36 cells=- required binary ngram (STRING); optional int64 id; x36"),
    ("graft_partpost_country", "append", "files=36 cells=- optional int64 id; optional binary partition (STRING); required binary ngram (STRING); x36"),
    ("graft_gramdf", "append", "files=2 cells=- required binary ngram (STRING); required int64 df; x2"),
    ("graft_gramn", "append", "files=2 cells=- required int64 n; x2"),
    ("graft_fuzzylsh", "append", "files=36 cells=- required int32 band_idx; optional int64 band_hash; optional binary clean_value (STRING); x36"),
    ("graft_ivf_m25_c16", "append", "files=32 cells=0,25,50,75,100,125,150,175,200,225,250,275,300,325,350,375 optional int64 vec_id; optional group embedding (LIST) { repeated group list { optional float element; } } optional int32 label; x32"),
    ("graft_pqcodes_m16k64", "append", "files=10 cells=- optional int64 vec_id; optional group codes (LIST) { repeated group list { required int64 element; } } x10"),
    ("graft_ivfpq_m25_c16_m16k64", "append", "files=32 cells=0,25,50,75,100,125,150,175,200,225,250,275,300,325,350,375 optional int64 vec_id; optional group codes (LIST) { repeated group list { required int64 element; } } x32"),
    ("graft_int8codes", "append", "files=2 cells=- optional int64 vec_id; optional int32 label; optional double scale; optional group codes (LIST) { repeated group list { optional int64 element; } } x2"),
    ("graft_rpproj", "append", "files=2 cells=- optional int64 vec_id; optional int32 label; optional group rp (LIST) { repeated group list { required double element; } } x2"),
    ("graft_winnowdf", "append", "files=2 cells=- optional int64 fp; required int64 c; x2"),
    ("graft_winnowsel", "append", "files=10 cells=- optional int64 doc_id; optional int64 fp; x10"),
    ("graft_bands", "append", "files=36 cells=- optional int64 doc_id; optional group sig (LIST) { repeated group list { required int64 element; } } required int32 band_idx; optional int64 band_hash; x36"),
    ("graft_docwins", "append", "files=36 cells=- optional int64 doc_id; required int64 w_hash; x36"),
    ("graft_docbase", "append", "files=2 cells=- optional int64 doc_id; optional binary source (STRING); required binary lang_pred (STRING); optional double quality_score; optional int64 q_q; optional int64 n_tok; optional int64 n_pieces; optional int64 content_hash; required int64 screen_hash; required int64 norm_hash; required double lm_score; x2"),
    ("graft_wordpostings", "append", "files=35 cells=- required binary term (STRING); optional int64 doc_id; optional int64 dl; required int64 tf; x35"),
    ("graft_wordstats", "append", "files=2 cells=- required int64 n; optional int64 sdl; x2"),
    ("graft_dsirmodel", "append", "files=2 cells=- required int64 bucket; required int64 t; required int64 q; x2"),
    ("graft_postings", "compact", "files=32 cells=- optional binary ngram (STRING); optional int64 id; x32"),
    ("graft_partpost_country", "compact", "files=32 cells=- optional int64 id; optional binary partition (STRING); optional binary ngram (STRING); x32"),
    ("graft_gramdf", "compact", "files=1 cells=- optional binary ngram (STRING); optional int64 df; x1"),
    ("graft_gramn", "compact", "files=1 cells=- optional int64 n; x1"),
    ("graft_fuzzylsh", "compact", "files=32 cells=- optional int32 band_idx; optional int64 band_hash; optional binary clean_value (STRING); x32"),
    ("graft_ivf_m25_c16", "compact", "files=16 cells=0,25,50,75,100,125,150,175,200,225,250,275,300,325,350,375 optional int64 vec_id; optional group embedding (LIST) { repeated group list { optional float element; } } optional int32 label; x16"),
    ("graft_pqcodes_m16k64", "compact", "files=8 cells=- optional int64 vec_id; optional group codes (LIST) { repeated group list { optional int64 element; } } x8"),
    ("graft_ivfpq_m25_c16_m16k64", "compact", "files=16 cells=0,25,50,75,100,125,150,175,200,225,250,275,300,325,350,375 optional int64 vec_id; optional group codes (LIST) { repeated group list { optional int64 element; } } x16"),
    ("graft_int8codes", "compact", "files=2 cells=- optional int64 vec_id; optional int32 label; optional double scale; optional group codes (LIST) { repeated group list { optional int64 element; } } x2"),
    ("graft_rpproj", "compact", "files=2 cells=- optional int64 vec_id; optional int32 label; optional group rp (LIST) { repeated group list { optional double element; } } x2"),
    ("graft_winnowdf", "compact", "files=2 cells=- optional int64 fp; optional int64 c; x2"),
    ("graft_winnowsel", "compact", "files=8 cells=- optional int64 doc_id; optional int64 fp; x8"),
    ("graft_bands", "compact", "files=32 cells=- optional int64 doc_id; optional group sig (LIST) { repeated group list { optional int64 element; } } optional int32 band_idx; optional int64 band_hash; x32"),
    ("graft_docwins", "compact", "files=32 cells=- optional int64 doc_id; optional int64 w_hash; x32"),
    ("graft_docbase", "compact", "files=32 cells=- optional int64 doc_id; optional binary source (STRING); optional binary lang_pred (STRING); optional double quality_score; optional int64 q_q; optional int64 n_tok; optional int64 n_pieces; optional int64 content_hash; optional int64 screen_hash; optional int64 norm_hash; optional double lm_score; x32"),
    ("graft_wordpostings", "compact", "files=31 cells=- optional binary term (STRING); optional int64 doc_id; optional int64 dl; optional int64 tf; x31"),
    ("graft_wordstats", "compact", "files=1 cells=- optional int64 n; optional int64 sdl; x1"),
    ("graft_dsirmodel", "compact", "files=1 cells=- optional int64 bucket; optional int64 t; optional int64 q; x1")
  ).map { case (k, phase, v) => (k, phase) -> v }.toMap

  test("every kind writes the pinned layout on ensure, append and compact; compact-then-read == fold(read)") {
    val drift = scala.collection.mutable.ArrayBuffer[String]()
    def check(kind: String, phase: String, path: String): Unit = {
      val written = layout(path)
      if (written != golden((kind, phase)))
        drift += s"$kind after $phase:\n  golden:  ${golden((kind, phase))}\n  written: $written"
    }
    cases.foreach { case (a, table) =>
      val built = Materialize.ensure(spark, a, dir, base(table))
      check(a.kind, "ensure", built)
      val appended = Materialize.append(spark, a, dir, batch(table))
      assert(appended == built, s"${a.kind}: an append extends the generation in place")
      check(a.kind, "append", appended)
      val before = rows(a.fold(spark.read.parquet(appended)))
      val compacted = Materialize.compact(spark, a, dir)
      assert(compacted != appended, s"${a.kind}: compaction commits a new generation")
      check(a.kind, "compact", compacted)
      if (before.isEmpty || rows(spark.read.parquet(compacted)) != before)
        drift += s"${a.kind}: compacted rows differ from the fold of the appended rows"
    }
    assert(cases.map(_._1.kind).distinct.size == 18 &&
      golden.keySet == cases.flatMap { case (a, _) =>
        Seq("ensure", "append", "compact").map(a.kind -> _) }.toSet,
      "the golden rows must cover exactly the 18 appendable kinds")
    assert(drift.isEmpty, drift.mkString("\n", "\n", ""))
  }
}
