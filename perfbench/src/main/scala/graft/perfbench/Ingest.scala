package graft.perfbench

import graft.operators.{CorpusPrep, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Ingest while serving: a writer drains arriving document batches through
  * the streaming cadence (per-batch appends), then folds the appended
  * artifacts and refreshes the corpus-global overlay, while reader threads
  * keep serving — including reads of the overlay the writer swaps.
  *
  * Set-up bootstraps the standing corpus (6/8 of the documents); the
  * remaining 2/8 arrive as one batch file. */
object Ingest {

  def corpus(ctx: Ctx): String = ctx.dir("corpus")
  def incoming(ctx: Ctx): String = ctx.dir("incoming")

  private def arriving = pmod(col("doc_id"), lit(8L)) >= 6L

  /** Writes 6/8 of `docs` as the standing corpus `corpusDir` and the rest
    * as the arrival batch `incomingDir`; returns the number arriving. */
  private def split(docs: DataFrame, corpusDir: String, incomingDir: String): Long = {
    docs.filter(!arriving).coalesce(1).write.parquet(s"$corpusDir/documents.parquet")
    docs.filter(arriving).coalesce(1).write.parquet(incomingDir)
    docs.filter(arriving).count()
  }

  /** Input generation: the standing corpus and the arrival batch. Returns
    * the number of arriving documents. */
  def prepare(ctx: Ctx, dir: String): Long =
    split(graft.Tables.documents(ctx.spark, dir), corpus(ctx), incoming(ctx))

  /** An untimed cycle over a small corpus of its own (the first 100
    * documents), so the timed cycle does not pay for class loading, JIT
    * and code generation of the streaming, fold and refresh paths: a
    * deployed writer pays those once, not per cycle. */
  def warmup(ctx: Ctx, dir: String, schema: StructType): Unit = {
    val (c, in) = (ctx.dir("warm_corpus"), ctx.dir("warm_incoming"))
    val n = split(graft.Tables.documents(ctx.spark, dir).filter(col("doc_id") < 100L), c, in)
    CorpusPrep.bootstrapStanding(ctx.spark, c)
    cycle(ctx, c, in, schema, n)
  }

  /** The overlay reader family: labels of a few standing documents, read
    * from the overlay generation current at request time (the writer swaps
    * it). Each requested id must come back exactly once. */
  def overlayFamily(ctx: Ctx, dir: String, corpus: String): Family = {
    val r = new scala.util.Random(ctx.seed ^ 0x0e1aL)
    val standing = graft.Tables.documents(ctx.spark, dir)
      .filter(!arriving).select("doc_id").collect()
      .map(_.getLong(0)).toIndexedSeq
    val keys = (0 until 64).map(_ => Seq.fill(8)(standing(r.nextInt(standing.size)))
      .distinct.sorted.mkString(","))
    def read(k: String) = ctx.spark.read.parquet(graft.Materialize.servingPath(ctx.spark,
        "graft_docglobal", corpus, CorpusPrep.DocGlobalVersion))
      .filter(col("doc_id").isin(k.split(",").map(_.toLong).toIndexedSeq: _*))
      .select("doc_id", "is_canonical", "contaminated").orderBy("doc_id")
    Family("overlay", 0.3, keys, read, read,
      validate = (k, rows) => rows.map(_.getLong(0)).toSeq == k.split(",").map(_.toLong).toSeq)
  }

  /** One writer cycle's timings. `groups` names the job group each step's
    * Spark jobs ran under (the stream sets its own, its run id). */
  final case class Cycle(appendS: Double, compactS: Double, refreshS: Double,
                         docs: Long, filesPerArtifact: Double, decision: String,
                         groups: Map[String, String]) {
    def wallS: Double = appendS + compactS + refreshS
  }

  /** The writer cycle over corpus `dir`: drain the arrivals in
    * `incomingDir` through the streaming cadence, fold the appended
    * artifacts, refresh the overlay. */
  def cycle(ctx: Ctx, dir: String, incomingDir: String, schema: StructType,
            arrivals: Long): Cycle = {
    val spark = ctx.spark
    val tag = Paths.get(dir).getFileName
    val stream = spark.readStream.schema(schema).parquet(incomingDir)
    val t0 = System.nanoTime()
    val q = graft.streaming.StreamOps.ingestCadenceStream(stream, dir, availableNow = true)(
      (verdict, _) => { verdict.count(); () })
    q.awaitTermination()
    val t1 = System.nanoTime()
    val sc = spark.sparkContext
    sc.setJobGroup(s"writer-compact-$tag", "compact")
    // one arrival batch per cycle, so the fold is due after every cycle
    CorpusPrep.compactCadenceIfDue(spark, dir, maxPending = 1L)
    val t2 = System.nanoTime()
    sc.setJobGroup(s"writer-refresh-$tag", "refresh")
    val (_, decision) = CorpusPrep.compactionRefreshAuto(spark, dir)
    val t3 = System.nanoTime()
    sc.clearJobGroup()
    val kinds = Seq("graft_docbase" -> CorpusPrep.DocBaseVersion,
      "graft_bands" -> Dedup.BandsVersion, "graft_docwins" -> CorpusPrep.DocWinsVersion,
      "graft_docglobal" -> CorpusPrep.DocGlobalVersion)
    val files = kinds.map { case (k, v) =>
      val p = Paths.get(new org.apache.hadoop.fs.Path(
        graft.Materialize.servingPath(spark, k, dir, v)).toUri.getPath)
      Files.walk(p).iterator().asScala.count(_.toString.endsWith(".parquet")).toDouble
    }
    Cycle((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, arrivals,
      files.sum / files.size, decision, Map("append" -> q.runId.toString,
        "compact" -> s"writer-compact-$tag", "refresh" -> s"writer-refresh-$tag"))
  }

  /** The overlay served after the cycle must equal the overlay of the
    * whole corpus (`dir`'s documents) computed from scratch. */
  def verify(ctx: Ctx, dir: String, corpus: String): Boolean = {
    val spark = ctx.spark
    val want = ctx.fingerprint(CorpusPrep.docGlobalOverDocs(graft.Tables.documents(spark, dir))
      .orderBy("doc_id").collect().toSeq)
    val got = ctx.fingerprint(spark.read.parquet(graft.Materialize.servingPath(spark,
        "graft_docglobal", corpus, CorpusPrep.DocGlobalVersion))
      .select("doc_id", "is_canonical", "contaminated").orderBy("doc_id").collect().toSeq)
    if (got != want) System.err.println("[perfbench] the served overlay is wrong")
    got == want
  }
}
