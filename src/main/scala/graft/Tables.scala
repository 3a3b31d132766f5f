package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the generated input parquet tables (TESTDATA.md), and the
  * one parquet read path of the program ([[parquet]]): input tables and
  * materialized artifacts alike are read through it.
  *
  * Each loader is a plain parquet scan; filters/projections composed on top
  * are pushed into the scan by Catalyst (verify with `PushedFilters` /
  * `ReadSchema` in `.explain("formatted")`).
  *
  * Schema reuse: a bare `spark.read.parquet` runs one Spark job per call to
  * read a footer and infer the schema — on a serving request that job is
  * most of the fixed cost of a read. [[parquet]] infers once and hands the
  * [[Memo]]ized schema to every later read, which then launches no job.
  * The key is the read (a path, or the documents glob); the stamp is the
  * files it names with their (modification time, length) — one
  * `getFileStatus` or glob listing, no job — and the session's
  * schema-inference confs. The file listing itself is NOT memoized: every
  * read lists afresh, so rows appended to a generation are visible on the
  * next read.
  */
object Tables {
  /** Every driver table (TESTDATA.md) — the single source for warmup
    * sweeps and fixture loops. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** An input table `<dir>/<name>.parquet`; a missing one is refused with
    * an IllegalArgumentException naming the table and the dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readPath(spark, s"$dir/$name.parquet",
      s"input table '$name' is missing: $dir has no $name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "events")

  /** The documents corpus — the one table ingest increments arrive at.
    * Reads `documents*.parquet`: an arriving batch lands as a NEW sibling
    * child (`documents_b<n>.parquet`), which is precisely what the
    * Materialize staleness contract classifies as an increment (new
    * top-level children never mark artifacts stale, so the append
    * lifecycle — docbase labels, band index, posting index — extends
    * rather than rebuilds; see CorpusPrep.ingestIncrement). On the
    * driver-generated dirs the glob matches exactly `documents.parquet`,
    * so gate reads are unchanged. */
  def documents(spark: SparkSession, dir: String): DataFrame = {
    // The glob is resolved DRIVER-SIDE (one listing) instead of being
    // handed to the reader: Spark 4.1's HybridAnalyzer probes the literal
    // glob string as a path first (FileStreamSink.hasMetadata) and prints
    // a caught FileNotFoundException with a full stack into the log on
    // every plan construction before its fixed-point retry globs
    // correctly — harmless but it pollutes the verify/entry gate logs
    // (r15 verdict item). Paths are sorted so the scan order (and any
    // order-dependent downstream tie-break) is deterministic. The listing
    // already carries each match's status, so the schema key costs no
    // further filesystem call.
    val g = new Path(s"$dir/documents*.parquet")
    val fs = g.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = Option(fs.globStatus(g)).map(_.toSeq.sortBy(_.getPath.toString))
      .getOrElse(Seq.empty)
    require(matches.nonEmpty,
      s"input table 'documents' is missing: $dir has no documents*.parquet")
    read(spark, fs.makeQualified(g).toString, matches.map(_.getPath.toString), matches)
  }
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Read parquet at `path` (a file or a directory, not a glob), inferring
    * the schema only on the first read of a key (see the object doc). A
    * missing path is refused with an IllegalArgumentException naming it. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    readPath(spark, path, s"parquet input $path does not exist")

  /** The session confs that change what parquet schema inference returns;
    * their values are part of the stamp. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong")

  private def readPath(spark: SparkSession, p: String, missing: String): DataFrame = {
    val path = new Path(p)
    val st =
      try path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path)
      catch { case _: java.io.FileNotFoundException => throw new IllegalArgumentException(missing) }
    read(spark, st.getPath.toString, Seq(p), Seq(st))
  }

  /** `key` is the qualified path or glob. */
  private def read(spark: SparkSession, key: String, paths: Seq[String],
                   sts: Seq[FileStatus]): DataFrame = {
    val stamp = (sts.map(s => (s.getPath.toString, s.getModificationTime, s.getLen)),
      InferenceConfs.map(spark.conf.getOption))
    // a miss serves the inferring read itself, so it lists the files once
    var inferred: Option[DataFrame] = None
    val schema = Memo(("parquet schema", key), stamp) {
      inferred = Some(spark.read.parquet(paths: _*))
      inferred.get.schema
    }
    inferred.getOrElse(spark.read.schema(schema).parquet(paths: _*))
  }
}
