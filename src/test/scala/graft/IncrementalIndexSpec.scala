package graft

import graft.operators.{FuzzySearch, NgramIndex, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Incremental maintenance of MATERIALIZED artifacts — the write-once
  * layouts' face of the reference's `add_entity` (geo_manager.py:451-476):
  * appending a new batch's derived rows as new files must be
  * indistinguishable from rebuilding the whole artifact, and the flagship
  * reads over an appended index must equal the inline derivations over the
  * union corpus. Artifacts are isolated under a temp
  * `spark.graft.materialize.dir` so the suite never touches the shared
  * warehouse copies. */
class IncrementalIndexSpec extends AnyFunSuite with BeforeAndAfterAll {
  import IncrementalIndexSpec._

  private val dir = "/root/testdata/sf0.001"
  private val artDir = Files.createTempDirectory("graft-incr-artifacts").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.graft.materialize.dir", artDir)
    .appName("incremental-index-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def corpusParts(): (DataFrame, DataFrame, DataFrame) = {
    val c = FuzzySearch.corpus(spark, dir)
    (c, c.filter(pmod(col("id"), lit(7)) =!= 0), c.filter(pmod(col("id"), lit(7)) === 0))
  }

  test("posting index: append-then-read == rebuild-then-read, bit-identical") {
    val (full, base, batch) = corpusParts()
    assert(batch.count() > 0 && base.count() > 0)
    val appended = Materialize.ensure(spark, FuzzySearch.Postings.copy(version = 901), dir, base)
    Materialize.append(spark, FuzzySearch.Postings.copy(version = 901), dir, batch)
    val rebuilt = Materialize.ensure(spark, FuzzySearch.Postings.copy(version = 902), dir, full)
    def rows(p: String): Seq[(String, Long)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getAs[String]("ngram"), r.getAs[Long]("id"))).toSeq.sorted
    val a = rows(appended)
    assert(a.nonEmpty && a == rows(rebuilt))
  }

  test("partitioned postings: append-then-read == rebuild-then-read (row-local explode)") {
    val zc = FuzzySearch.zipCorpus(spark, dir)
    val base = zc.filter(pmod(col("id"), lit(7)) =!= 0)
    val batch = zc.filter(pmod(col("id"), lit(7)) === 0)
    assert(batch.count() > 0 && base.count() > 0)
    val appended = Materialize.ensure(spark, FuzzySearch.partPostings().copy(version = 901), dir, base)
    Materialize.append(spark, FuzzySearch.partPostings().copy(version = 901), dir, batch)
    val rebuilt = Materialize.ensure(spark, FuzzySearch.partPostings().copy(version = 902), dir, zc)
    def rows(p: String): Seq[(String, String, Long)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getAs[String]("ngram"), r.getAs[String]("partition"),
          r.getAs[Long]("id"))).toSeq.sorted
    val a = rows(appended)
    assert(a.nonEmpty && a == rows(rebuilt))
  }

  test("fuzzy LSH bands: append-then-serve == rebuild-then-serve (dedup by countDistinct)") {
    val (full, base, batch) = corpusParts()
    // overlap the batch's names with the base on purpose: appends
    // re-announce already-indexed names as duplicate band rows, and the
    // serve's countDistinct(band_idx) must make that invisible
    val appended = Materialize.ensure(spark, FuzzySearch.FuzzyLsh.copy(version = 901), dir, base)
    Materialize.append(spark, FuzzySearch.FuzzyLsh.copy(version = 901), dir, full)
    val rebuilt = Materialize.ensure(spark, FuzzySearch.FuzzyLsh.copy(version = 902), dir, full)
    val queries = FuzzySearch.batchQueries(full)
    def served(version: Int): Seq[(Long, Long)] = {
      // lshCandidates reads via ensure (memoized path) — read both
      // artifacts through the same candidate plan by pointing the read
      // at each version's physical path
      val art = spark.read.parquet(if (version == 901) appended else rebuilt)
      val qb = queries.withColumn("sig", FuzzySearch.fuzzyGramSig(col("clean_q")))
        .select(col("qid"), posexplode(FuzzySearch.fuzzyBandArray(col("sig"))))
        .select(col("qid"), col("pos").as("band_idx"), col("col").as("band_hash"))
      art.join(qb, Seq("band_idx", "band_hash"))
        .groupBy(col("qid"), col("clean_value"))
        .agg(countDistinct(col("band_idx")).as("band_hits"))
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("band_hits")))
        .toSeq.sorted
    }
    val a = served(901)
    assert(a.nonEmpty && a == served(902))
  }

  test("gram stats: append-then-fold == rebuild-then-fold (df + n additive)") {
    val (full, base, batch) = corpusParts()
    val (df1, n1) = (FuzzySearch.GramDf.copy(version = 901), FuzzySearch.GramN.copy(version = 901))
    val (df2, n2) = (FuzzySearch.GramDf.copy(version = 902), FuzzySearch.GramN.copy(version = 902))
    val (adf, an) = (Materialize.ensure(spark, df1, dir, base), Materialize.ensure(spark, n1, dir, base))
    Materialize.append(spark, df1, dir, batch)
    Materialize.append(spark, n1, dir, batch)
    val (rdf, rn) = (Materialize.ensure(spark, df2, dir, full), Materialize.ensure(spark, n2, dir, full))
    def foldDf(p: String): Seq[(String, Long)] =
      spark.read.parquet(p).groupBy(col("ngram")).agg(sum(col("df")).as("df"))
        .collect().map(r => (r.getAs[String]("ngram"), r.getAs[Long]("df"))).toSeq.sorted
    def foldN(p: String): Long =
      spark.read.parquet(p).agg(sum(col("n"))).collect().head.getLong(0)
    val a = foldDf(adf)
    assert(a.nonEmpty && a == foldDf(rdf))
    assert(foldN(an) == foldN(rn))
    // compaction folds per-batch rows; the folded view is unchanged
    Materialize.compact(spark, df1, dir)
    Materialize.compact(spark, n1, dir)
    assert(foldDf(adf) == a && foldN(an) == foldN(rn))
  }

  test("winnow fp stats: append-then-fold == rebuild-then-fold (df additive)") {
    import graft.operators.Dedup
    val d = Tables.documents(spark, dir)
    val base = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val batch = d.filter(pmod(col("doc_id"), lit(7)) === 0)
    assert(batch.count() > 0 && base.count() > 0)
    // winnowing is row-local per document, so per-fp df is additive across
    // batches — the property that licenses the append face at all
    val ap = Materialize.ensure(spark, Dedup.WinnowDf.copy(version = 901), dir, base)
    Materialize.append(spark, Dedup.WinnowDf.copy(version = 901), dir, batch)
    val rp = Materialize.ensure(spark, Dedup.WinnowDf.copy(version = 902), dir, d)
    def fold(p: String): Seq[(Long, Long)] =
      spark.read.parquet(p).groupBy(col("fp")).agg(sum(col("c")).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val a = fold(ap)
    assert(a.nonEmpty && a == fold(rp))
  }

  test("docbase labels: append-then-read == rebuild-then-read (row-local half)") {
    import graft.operators.CorpusPrep
    val d = Tables.documents(spark, dir)
    val base = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val batch = d.filter(pmod(col("doc_id"), lit(7)) === 0)
    assert(batch.count() > 0 && base.count() > 0)
    // every docbase column is row-local (LM score is text vs the FROZEN
    // model artifact), so labeling corpus ∪ batch == labels(corpus) ∪
    // labels(batch) — the property that licenses the append face. The
    // shared model is ensured over the FULL dir on both paths, so the
    // comparison isolates the labeling, not a model drift.
    val docBase = CorpusPrep.docBase(spark, dir)
    val ap = Materialize.ensure(spark, docBase.copy(version = 901), dir, d)
    // the appended artifact, under its own kind: built from the base slice,
    // then the batch appended
    val slice = docBase.copy(kind = "graft_docbase_slice", version = 901)
    val apSlice = Materialize.ensure(spark, slice, dir, base)
    Materialize.append(spark, slice, dir, batch)
    def rows(p: String): Seq[Seq[Any]] =
      spark.read.parquet(p).orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val appended = rows(apSlice)
    assert(appended.nonEmpty && appended == rows(ap),
      "appended docbase diverges from the full rebuild")
  }

  test("winnow selection: append-then-read == rebuild-then-read (row-local)") {
    import graft.operators.Dedup
    val d = Tables.documents(spark, dir)
    val base = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val batch = d.filter(pmod(col("doc_id"), lit(7)) === 0)
    val ap = Materialize.ensure(spark, Dedup.WinnowSel.copy(version = 901), dir, base)
    Materialize.append(spark, Dedup.WinnowSel.copy(version = 901), dir, batch)
    val rp = Materialize.ensure(spark, Dedup.WinnowSel.copy(version = 902), dir, d)
    def rows(p: String): Seq[(Long, Long)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val a = rows(ap)
    assert(a.nonEmpty && a == rows(rp))
  }

  test("window postings: append-then-read == rebuild-then-read (row-local)") {
    import graft.operators.CorpusPrep
    val d = Tables.documents(spark, dir)
    val base = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val batch = d.filter(pmod(col("doc_id"), lit(7)) === 0)
    val ap = Materialize.ensure(spark, CorpusPrep.DocWins.copy(version = 901), dir, base)
    Materialize.append(spark, CorpusPrep.DocWins.copy(version = 901), dir, batch)
    val rp = Materialize.ensure(spark, CorpusPrep.DocWins.copy(version = 902), dir, d)
    def rows(p: String): Seq[(Long, Long)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val a = rows(ap)
    assert(a.nonEmpty && a == rows(rp))
  }

  test("batch-keyed append: replays and orphaned partial attempts converge to one copy") {
    import graft.operators.CorpusPrep
    val d = Tables.documents(spark, dir)
    val base = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val batch = d.filter(pmod(col("doc_id"), lit(7)) === 0)
    val ap = Materialize.ensure(spark, CorpusPrep.DocWins.copy(version = 931), dir, base)
    def rows(p: String): Seq[(Long, Long)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    Materialize.append(spark, CorpusPrep.DocWins.copy(version = 931), dir, batch,
      Some("b1"))
    val once = rows(ap)
    val rp = Materialize.ensure(spark, CorpusPrep.DocWins.copy(version = 932), dir, d)
    assert(once.nonEmpty && once == rows(rp),
      "batch-keyed append must equal the plain rebuild")
    // replay the same tag: at-least-once delivery must not double the rows
    Materialize.append(spark, CorpusPrep.DocWins.copy(version = 931), dir, batch,
      Some("b1"))
    assert(rows(ap) == once, "replayed tag must converge, not double")
    // an orphaned file from a crashed prior attempt of ANOTHER tag: the
    // next attempt of that tag must delete it before moving its own in
    val apPath = new org.apache.hadoop.fs.Path(ap)
    val fs = apPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val donor = fs.listStatus(apPath)
      .filter(_.getPath.getName.startsWith("batch-b1-")).maxBy(_.getLen)
    org.apache.hadoop.fs.FileUtil.copy(fs, donor.getPath, fs,
      new org.apache.hadoop.fs.Path(apPath, "batch-b2-orphan.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(rows(ap) != once, "the planted orphan must be visible pre-retry")
    Materialize.append(spark, CorpusPrep.DocWins.copy(version = 931), dir, batch.limit(0),
      Some("b2"))
    assert(rows(ap) == once,
      "retrying tag b2 must clear the orphaned partial attempt's file")
    // a crashed partial attempt must not get FOLDED IN by compaction:
    // plant another unmarked orphan, compact, and the canonical layout
    // must hold exactly the committed rows (the orphan repaired away —
    // folding it would duplicate the batch when its tag later replays)
    org.apache.hadoop.fs.FileUtil.copy(fs, donor.getPath, fs,
      new org.apache.hadoop.fs.Path(apPath, "batch-b3-orphan.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(rows(ap) != once, "the planted orphan must be visible pre-compact")
    graft.Materialize.compact(spark, "graft_docwins", dir, 931) { (cur, tmp) =>
      cur.repartition(4, col("w_hash")).sortWithinPartitions(col("w_hash"))
        .write.mode("overwrite").parquet(tmp)
    }
    assert(rows(ap) == once,
      "compact must repair a crashed attempt's files away, not fold them in")
    // the folded b1's marker was carried forward: a late replay still no-ops
    Materialize.append(spark, CorpusPrep.DocWins.copy(version = 931), dir, batch,
      Some("b1"))
    assert(rows(ap) == once, "a late replay of a folded batch must still no-op")
  }

  test("champion index: delta refresh == rebuild across stop-gram threshold crossings") {
    // Crafted so the batch drives every crossing the delta must handle
    // (inv = 2: allowed iff df·2 ≤ n; K = 2 so truncation bites):
    //  - "abc" df 4 of n 7 (8 > 7, cut) → 8 ≤ 15 after the batch: ENTERS
    //  - "xyz" df 1 (allowed) → batch adds 7: 16 > 15: LEAVES
    //  - "mno" stays; the batch's pop-99 doc must displace the pop-50 one
    //    in the K=2 list (the row-local merge re-ranks correctly)
    import graft.operators.FuzzySearch
    import spark.implicits._
    val c0 = Seq(
      (1L, "abc", 10L), (2L, "abc", 20L), (3L, "abc", 30L), (4L, "abc", 40L),
      (5L, "xyz", 70L), (6L, "mno", 50L), (7L, "mno", 60L))
      .toDF("id", "clean_value", "population")
    val batch = (Seq((15L, "mno", 99L)) ++ (8L to 14L).map(i => (i, "xyz", i)))
      .toDF("id", "clean_value", "population")
    val full = c0.unionByName(batch)
    // version range disjoint from every other test's: this test ensures
    // POSTINGS at v over a crafted corpus, and a shared version would
    // poison the real-corpus artifact a later test expects to build
    // (exactly what v=903 did to the posting-compaction test)
    val v = 923
    // prior generation + the cadence's per-batch appends
    Materialize.ensure(spark, FuzzySearch.Postings.copy(version = v), dir, c0)
    Materialize.ensure(spark, FuzzySearch.GramDf.copy(version = v), dir, c0)
    Materialize.ensure(spark, FuzzySearch.GramN.copy(version = v), dir, c0)
    FuzzySearch.ensureChampionIndex(spark, dir, c0, dfCapInverse = 2L,
      postingCap = 2, version = v)
    Materialize.append(spark, FuzzySearch.Postings.copy(version = v), dir, batch)
    Materialize.append(spark, FuzzySearch.GramDf.copy(version = v), dir, batch)
    Materialize.append(spark, FuzzySearch.GramN.copy(version = v), dir, batch)
    val dp = FuzzySearch.deltaChampionRefresh(spark, dir, full, batch,
      dfCapInverse = 2L, postingCap = 2, version = v,
      statsVersion = v, postingsVersion = v)
    val rp = FuzzySearch.ensureChampionIndex(spark, dir, full,
      dfCapInverse = 2L, postingCap = 2, version = v + 1)
    def rows(p: String): Seq[(String, Long, Long)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val d = rows(dp)
    assert(d == rows(rp), "delta-refreshed champion index diverges from the rebuild")
    assert(d.map(_._1).contains("abc"), "the entered gram must gain its list")
    assert(!d.map(_._1).contains("xyz"), "the left gram must lose its list")
    assert(d.filter(_._1 == "mno").map(_._2) == Seq(7L, 15L),
      "the stayed gram's K=2 list must re-rank with the batch's pop-99 doc")
    // threshold-storm arm: budget 0 forces the SHUFFLE rank-key join for
    // the entered lists (the broadcast-dispatch's fallback) — identical
    // artifact, only the physical join differs
    FuzzySearch.ensureChampionIndex(spark, dir, c0, dfCapInverse = 2L,
      postingCap = 2, version = 941)
    val sp = FuzzySearch.deltaChampionRefresh(spark, dir, full, batch,
      dfCapInverse = 2L, postingCap = 2, version = 941,
      statsVersion = v, postingsVersion = v, enteredBroadcastBudget = 0L)
    assert(rows(sp) == d,
      "the shuffle-arm entered join must match the broadcast arm")
  }

  test("champion refresh dispatch: every arm serves what a rebuild would") {
    import graft.operators.FuzzySearch
    import spark.implicits._
    val c0 = Seq(
      (1L, "abc", 10L), (2L, "abd", 20L), (3L, "abe", 30L), (4L, "abf", 40L),
      (5L, "xyz", 70L), (6L, "mno", 50L), (7L, "mnp", 60L))
      .toDF("id", "clean_value", "population")
    val batch = Seq((8L, "mnq", 99L), (9L, "xya", 5L))
      .toDF("id", "clean_value", "population")
    val full = c0.unionByName(batch)
    val v = 925 // crafted-corpus artifacts: own version range (see above)
    def rows(p: String): Seq[(String, Long, Long)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted

    // no committed artifact → bootstrap through plain ensure
    val (p0, d0) = FuzzySearch.championRefreshAuto(spark, dir, c0,
      c0.limit(0), dfCapInverse = 2L, postingCap = 2,
      version = v, statsVersion = v, postingsVersion = v)
    assert(d0 == "bootstrap" && rows(p0).nonEmpty)

    // the cadence appends the batch's postings + stats, then dispatches:
    // n (9 docs, from the additive stats fold) is under the default
    // floor → the exact rebuild arm, equal to a from-scratch build
    Materialize.ensure(spark, FuzzySearch.Postings.copy(version = v), dir, c0)
    Materialize.ensure(spark, FuzzySearch.GramDf.copy(version = v), dir, c0)
    Materialize.ensure(spark, FuzzySearch.GramN.copy(version = v), dir, c0)
    Materialize.append(spark, FuzzySearch.Postings.copy(version = v), dir, batch)
    Materialize.append(spark, FuzzySearch.GramDf.copy(version = v), dir, batch)
    Materialize.append(spark, FuzzySearch.GramN.copy(version = v), dir, batch)
    val (p1, d1) = FuzzySearch.championRefreshAuto(spark, dir, full, batch,
      dfCapInverse = 2L, postingCap = 2,
      version = v, statsVersion = v, postingsVersion = v)
    assert(d1 == "rebuild")
    val rebuilt = rows(FuzzySearch.ensureChampionIndex(spark, dir, full,
      dfCapInverse = 2L, postingCap = 2, version = v + 1))
    assert(rows(p1) == rebuilt)

    // floor forced under the corpus and a minority batch → the delta arm,
    // still equal to the rebuild (the crossings spec's core equality,
    // here reached through the dispatcher)
    graft.Materialize.invalidate(spark, s"graft_champost_2_2", dir, v)
    FuzzySearch.ensureChampionIndex(spark, dir, c0, dfCapInverse = 2L,
      postingCap = 2, version = v)
    val (p2, d2) = FuzzySearch.championRefreshAuto(spark, dir, full, batch,
      dfCapInverse = 2L, postingCap = 2, floorDocs = 1L,
      version = v, statsVersion = v, postingsVersion = v)
    assert(d2 == "delta" && rows(p2) == rebuilt)

    // nothing arrived → ensure (no rebuild of a fresh artifact)
    val (p3, d3) = FuzzySearch.championRefreshAuto(spark, dir, full,
      full.limit(0), dfCapInverse = 2L, postingCap = 2, floorDocs = 1L,
      version = v, statsVersion = v, postingsVersion = v)
    assert(d3 == "ensure" && rows(p3) == rebuilt)
  }

  test("indexed fuzzy search over an appended index == inline over the union corpus") {
    val (_, base, batch) = corpusParts()
    // Build at the OPERATOR's version so fuzzySearchIndexed's ensure() sees
    // the appended artifact and skips the rebuild.
    Materialize.ensure(spark, FuzzySearch.Postings, dir, base)
    Materialize.append(spark, FuzzySearch.Postings, dir, batch)
    val viaIndex = FuzzySearch.fuzzySearchIndexed(spark, dir, "smal widget", 15).collect().toSeq
    val inline = FuzzySearch.fuzzySearch(spark, dir, "smal widget", 15).collect().toSeq
    assert(viaIndex.nonEmpty && viaIndex == inline)
  }

  private def embParts(): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
    // Codebook from the BASE table — frozen across appends (the id cap
    // keeps later batches out of it), passed explicitly to both paths.
    val cent = Similarity.centroids(e, 25L, Similarity.IvfNumCentroids)
    (e, cent, e.filter(col("vec_id") % 3 =!= 0), e.filter(col("vec_id") % 3 === 0))
  }

  test("IVF index: append-then-read == rebuild-then-read, bit-identical") {
    val (e, cent, base, batch) = embParts()
    val ivf = Similarity.ivfIndex(cent, 25L, Similarity.IvfNumCentroids)
    val appended = Materialize.ensure(spark, ivf.copy(version = 901), dir, base)
    Materialize.append(spark, ivf.copy(version = 901), dir, batch)
    val rebuilt = Materialize.ensure(spark, ivf.copy(version = 902), dir, e)
    def rows(p: String): Seq[(Long, Long, String, Seq[Float])] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("cell").cast("long"),
          col("label").cast("string"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getSeq[Float](3)))
        .toSeq.sortBy(t => (t._1, t._2))
    val a = rows(appended)
    assert(a.nonEmpty && a == rows(rebuilt))
  }

  test("bucketed IVF top-k over an appended index == unindexed IVF top-k") {
    val (_, cent, base, batch) = embParts()
    val ivf = Similarity.ivfIndex(cent, 25L, Similarity.IvfNumCentroids)
    // Build at the operator's version so ivfBucketedTopK reads the
    // appended artifact.
    Materialize.ensure(spark, ivf, dir, base)
    Materialize.append(spark, ivf, dir, batch)
    val viaIndex = Similarity.ivfBucketedTopK(spark, dir, probeId = 7L, k = 10)
      .collect().toSeq
    val inline = Similarity.ivfTopK(spark, dir, probeId = 7L, k = 10)
      .collect().toSeq
    assert(viaIndex.nonEmpty && viaIndex == inline)
  }

  test("append to an absent artifact is refused (build with ensure first)") {
    val (_, _, batch) = corpusParts()
    intercept[IllegalArgumentException] {
      Materialize.append(spark, FuzzySearch.Postings.copy(version = 999), dir, batch)
    }
  }

  private def parquetFiles(p: String): Int =
    new java.io.File(p).listFiles((_, n) => n.endsWith(".parquet")).length

  test("posting compaction restores the canonical file count, contents unchanged") {
    val (full, base, batch) = corpusParts()
    val appended = Materialize.ensure(spark, FuzzySearch.Postings.copy(version = 903), dir, base)
    Materialize.append(spark, FuzzySearch.Postings.copy(version = 903), dir, batch)
    val before = parquetFiles(appended)
    // compaction commits a NEW generation (the appended one keeps serving
    // in-flight readers until gc) — the canonical layout is at its path
    val compacted = Materialize.compact(spark, FuzzySearch.Postings.copy(version = 903), dir)
    val rebuilt = Materialize.ensure(spark, FuzzySearch.Postings.copy(version = 904), dir, full)
    def rows(p: String): Seq[(String, Long)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getAs[String]("ngram"), r.getAs[Long]("id"))).toSeq.sorted
    // canonical = one 32-way clustered run (empty hash partitions write no
    // file); the appended artifact carried extra per-batch file sets
    assert(compacted != appended,
      "compaction must commit a new generation, not swap in place")
    val after = parquetFiles(compacted)
    assert(after <= 32 && after < before, s"before=$before after=$after")
    val a = rows(compacted)
    assert(a.nonEmpty && a == rows(rebuilt))
  }

  test("IVF compaction preserves contents and the cell-partitioned layout") {
    val (e, cent, base, batch) = embParts()
    val ivf = Similarity.ivfIndex(cent, 25L, Similarity.IvfNumCentroids)
    val appended = Materialize.ensure(spark, ivf.copy(version = 903), dir, base)
    Materialize.append(spark, ivf.copy(version = 903), dir, batch)
    val compacted = Materialize.compact(spark, ivf.copy(version = 903), dir)
    val rebuilt = Materialize.ensure(spark, ivf.copy(version = 904), dir, e)
    def rows(p: String): Seq[(Long, Long)] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // still a cell-partitioned layout (directories, not flat files)
    assert(new java.io.File(compacted).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("cell=")))
    val a = rows(compacted)
    assert(a.nonEmpty && a == rows(rebuilt))
  }

  test("compact of an absent artifact is refused") {
    intercept[IllegalArgumentException] {
      Materialize.compact(spark, FuzzySearch.Postings.copy(version = 999), dir)
    }
  }

  test("PQ codes: append-then-read == rebuild-then-read; indexed query == inline") {
    val e = Tables.embeddings(spark, dir)
    // frozen subspace codebooks from the FULL table (the id cap keeps them
    // stable), passed explicitly to both paths — same rule as the IVF test
    val books = Similarity.pqCodebooks(e, 25L)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val batch = e.filter(col("vec_id") % 3 === 0)
    val appended = Materialize.ensure(spark, Similarity.pqCodes(books).copy(version = 901), dir, base)
    Materialize.append(spark, Similarity.pqCodes(books).copy(version = 901), dir, batch)
    val rebuilt = Materialize.ensure(spark, Similarity.pqCodes(books).copy(version = 902), dir, e)
    def rows(p: String): Seq[(Long, Seq[Long])] =
      spark.read.parquet(p).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    val a = rows(appended)
    assert(a.nonEmpty && a == rows(rebuilt))
    // operator-version artifact so pqTopKIndexed reads it
    Materialize.ensure(spark, Similarity.pqCodes(books), dir, base)
    Materialize.append(spark, Similarity.pqCodes(books), dir, batch)
    val viaIndex = Similarity.pqTopKIndexed(spark, dir, probeId = 7L, k = 10)
      .collect().toSeq
    val inline = Similarity.pqTopK(spark, dir, probeId = 7L, k = 10)
      .collect().toSeq
    assert(viaIndex.nonEmpty && viaIndex == inline)
  }

  test("cell-partitioned PQ codes: append == rebuild; served IVF2-PQ == inline") {
    val (e, cent, base, batch) = embParts()
    // both codebooks frozen (id-capped) and passed explicitly to both
    // paths — the composition of the two row-local derivations the IVF
    // and flat-codes tests pin separately
    val books = Similarity.pqCodebooks(e, 25L)
    val ivfPq = Similarity.ivfPqCodes(cent, books, 25L, Similarity.IvfNumCentroids)
    val appended = Materialize.ensure(spark, ivfPq.copy(version = 901), dir, base)
    Materialize.append(spark, ivfPq.copy(version = 901), dir, batch)
    val rebuilt = Materialize.ensure(spark, ivfPq.copy(version = 902), dir, e)
    def rows(p: String): Seq[(Long, Long, Seq[Long])] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("cell").cast("long"), col("codes"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        .toSeq.sortBy(t => (t._1, t._2))
    val a = rows(appended)
    assert(a.nonEmpty && a == rows(rebuilt))
    // operator-version artifact so the served query reads the appended one
    Materialize.ensure(spark, ivfPq, dir, base)
    Materialize.append(spark, ivfPq, dir, batch)
    val served = Similarity.ivf2PqBucketedTopK(spark, dir, probeId = 7L, k = 10)
      .collect().toSeq
    val inline = Similarity.ivf2PqTopK(spark, dir, probeId = 7L, k = 10)
      .collect().toSeq
    assert(served.nonEmpty && served == inline)
  }

  private def docParts(): (DataFrame, DataFrame, DataFrame) = {
    val d = Tables.documents(spark, dir)
    (d, d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0))
  }

  test("word index: append-then-read == rebuild-then-read, bit-identical (postings + stats)") {
    import graft.operators.Retrieval
    val (full, base, batch) = docParts()
    assert(batch.count() > 0 && base.count() > 0)
    val (p1, s1) = (Retrieval.WordPostings.copy(version = 901), Retrieval.WordStats.copy(version = 901))
    val (p2, s2) = (Retrieval.WordPostings.copy(version = 902), Retrieval.WordStats.copy(version = 902))
    val (appendedP, appendedS) =
      (Materialize.ensure(spark, p1, dir, base), Materialize.ensure(spark, s1, dir, base))
    Materialize.append(spark, p1, dir, batch)
    Materialize.append(spark, s1, dir, batch)
    val (rebuiltP, rebuiltS) =
      (Materialize.ensure(spark, p2, dir, full), Materialize.ensure(spark, s2, dir, full))
    def rows(p: String): Seq[(String, Long, Long, Long)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("tf"), r.getAs[Long]("dl"))).toSeq.sorted
    val a = rows(appendedP)
    assert(a.nonEmpty && a == rows(rebuiltP))
    // stats are additive rows: the SUMS must agree (append lands 2 rows)
    def stat(p: String): (Long, Long) = {
      val r = spark.read.parquet(p).agg(sum(col("n")), sum(col("sdl"))).collect().head
      (r.getLong(0), r.getLong(1))
    }
    assert(stat(appendedS) == stat(rebuiltS))
  }

  test("indexed BM25 over an appended word index == inline over the union corpus") {
    import graft.operators.Retrieval
    import spark.implicits._
    val (_, base, batch) = docParts()
    // Build at the OPERATOR's version so bm25Batch/bm25TopK read the
    // appended artifact and skip the rebuild.
    Retrieval.ensureWordIndex(spark, dir, base)
    Materialize.append(spark, Retrieval.WordPostings, dir, batch)
    Materialize.append(spark, Retrieval.WordStats, dir, batch)
    val reqs = Seq(0L -> "spark", 0L -> "query", 1L -> "customer", 1L -> "table")
    val viaIndex = Retrieval.bm25Batch(spark, dir, reqs, 10).collect().toSeq
    val inline = bm25BatchInline(reqs.toDF("qid", "term"),
      Tables.documents(spark, dir), 10).collect().toSeq
    assert(viaIndex.nonEmpty && viaIndex == inline)
    // compaction folds the appended file sets; contents (and query) unchanged
    Materialize.compact(spark, Retrieval.WordPostings, dir)
    Materialize.compact(spark, Retrieval.WordStats, dir)
    val afterCompact = Retrieval.bm25Batch(spark, dir, reqs, 10).collect().toSeq
    assert(afterCompact == inline)
    // single-query face: the inline corpus-scan operator stays the pinned
    // anchor of the indexed path (it has no gate row of its own anymore)
    val topkIndexed = Retrieval.bm25TopK(spark, dir, Seq("spark", "query"), 10)
      .collect().toSeq
    val topkInline = graft.operators.TextAnalysis.bm25TopK(
      spark, dir, Seq("spark", "query"), 10).collect().toSeq
    assert(topkIndexed.nonEmpty && topkIndexed == topkInline)
  }

  test("band artifact: append-then-screen == rebuild-then-screen") {
    import graft.operators.Dedup
    val d = Tables.documents(spark, dir)
    val corpus = d.filter(col("doc_id") % Dedup.IncMod =!= Dedup.IncRem)
      .select(col("doc_id"), col("text"))
    val ingest = d.filter(col("doc_id") % Dedup.IncMod === Dedup.IncRem)
      .select(col("doc_id"), col("text"))
    // corpus arrives in two increments: build from the first, append the rest
    val base = corpus.filter(col("doc_id") % 3 =!= 1)
    val inc = corpus.filter(col("doc_id") % 3 === 1)
    assert(base.count() > 0 && inc.count() > 0)
    val appended = Materialize.ensure(spark, Dedup.BandIndex.copy(version = 901), dir, base)
    Materialize.append(spark, Dedup.BandIndex.copy(version = 901), dir, inc)
    val rebuilt = Materialize.ensure(spark, Dedup.BandIndex.copy(version = 902), dir, corpus)
    def screen(bandsPath: String): Seq[Seq[Any]] =
      Dedup.incrementalNearDupsOver(ingest, spark.read.parquet(bandsPath))
        .collect().map(_.toSeq).toSeq
    val a = screen(appended)
    assert(a.nonEmpty && a == screen(rebuilt))
    // compaction reorganizes files only: screen unchanged
    Materialize.compact(spark, Dedup.BandIndex.copy(version = 901), dir)
    assert(screen(appended) == a)
  }

  test("int8 code artifact: append-then-read == rebuild-then-read") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, dir)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val batch = e.filter(col("vec_id") % 3 === 0)
    assert(base.count() > 0 && batch.count() > 0)
    val appended = Materialize.ensure(spark, Similarity.Int8Codes.copy(version = 901), dir, base)
    Materialize.append(spark, Similarity.Int8Codes.copy(version = 901), dir, batch)
    val rebuilt = Materialize.ensure(spark, Similarity.Int8Codes.copy(version = 902), dir, e)
    def rows(p: String): Seq[(Long, Double, Seq[Long])] =
      spark.read.parquet(p).collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getSeq[Long](3).toSeq))
        .toSeq.sortBy(_._1)
    val a = rows(appended)
    assert(a.nonEmpty && a == rows(rebuilt))
  }

  test("RP projection artifact: append-then-read == rebuild-then-read") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, dir)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val batch = e.filter(col("vec_id") % 3 === 0)
    assert(base.count() > 0 && batch.count() > 0)
    val appended = Materialize.ensure(spark, Similarity.RpProj.copy(version = 901), dir, base)
    Materialize.append(spark, Similarity.RpProj.copy(version = 901), dir, batch)
    val rebuilt = Materialize.ensure(spark, Similarity.RpProj.copy(version = 902), dir, e)
    def rows(p: String): Seq[(Long, Seq[Double])] =
      spark.read.parquet(p).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](2).toSeq))
        .toSeq.sortBy(_._1)
    val a = rows(appended)
    assert(a.nonEmpty && a == rows(rebuilt))
  }

  test("DSIR model: append-then-score == rebuild-then-score; compact preserves") {
    import graft.operators.Dsir
    val d = Tables.documents(spark, dir)
    // corpus arrives in two increments: fit from the first, append the rest
    val base = d.filter(col("doc_id") % 3 =!= 1)
    val inc = d.filter(col("doc_id") % 3 === 1)
    assert(base.count() > 0 && inc.count() > 0)
    val appended = Materialize.ensure(spark, Dsir.Model.copy(version = 901), dir, base)
    Materialize.append(spark, Dsir.Model.copy(version = 901), dir, inc)
    val rebuilt = Materialize.ensure(spark, Dsir.Model.copy(version = 902), dir, d)
    // additive counts: the folded appended artifact == the one-shot refit
    def counts(p: String): Seq[(Long, Long, Long)] =
      spark.read.parquet(p).groupBy("bucket")
        .agg(sum(col("t")).as("t"), sum(col("q")).as("q"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    val a = counts(appended)
    assert(a.nonEmpty && a == counts(rebuilt))
    // scoring through the appended model == scoring through the refit
    val probe = d.filter(col("doc_id") % 7 === 2).select(col("doc_id"), col("text"))
    def score(p: String): Seq[Seq[Any]] =
      Dsir.dsirScoreOver(probe, spark.read.parquet(p))
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val s = score(appended)
    assert(s.nonEmpty && s == score(rebuilt))
    // compaction folds count files only: scores unchanged
    Materialize.compact(spark, Dsir.Model.copy(version = 901), dir)
    assert(score(appended) == s)
  }

  test("artifact paths are never hidden: a glob over the artifact root sees them") {
    import spark.implicits._
    // a leading '_' in the dir tag would make Spark's path filter treat the
    // whole artifact as metadata: direct reads work, globs silently skip it
    assert(!Materialize.tag(dir).startsWith("_") &&
      !Materialize.tag(dir).startsWith("."))
    Materialize.ensure(spark, "graft_glob_test", dir, 1) { p =>
      Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(p)
    }
    assert(spark.read.parquet(s"$artDir/graft_glob_test/*").count() == 3)
  }

  test("a gutted artifact dir (committed but no data files) raises, not 0 rows") {
    import spark.implicits._
    val p = Materialize.ensure(spark, "graft_gut_test", dir, 1) { p =>
      Seq(1L).toDF("x").write.mode("overwrite").parquet(p)
    }
    new java.io.File(p).listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach(_.delete())
    intercept[IllegalArgumentException] {
      Materialize.ensure(spark, "graft_gut_test", dir, 1)(_ => ())
    }
  }

  test("modified input => ensure rebuilds and append refuses; NEW input => increment, no rebuild") {
    import spark.implicits._
    val data = Files.createTempDirectory("graft-manifest-data").toString
    Seq((1L, "one")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$data/t.parquet")
    var builds = 0
    def build(tag: String)(p: String): Unit = {
      builds += 1
      Seq(tag).toDF("content").write.mode("overwrite").parquet(p)
    }
    def content(p: String): String =
      spark.read.parquet(p).collect().head.getString(0)

    val p1 = Materialize.ensure(spark, "graft_mf_test", data, 1)(build("v1"))
    assert(builds == 1 && content(p1) == "v1")

    // a NEW child is an ingest increment: key stable, NO rebuild, append OK
    Seq((2L, "two")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$data/t2.parquet")
    val p2 = Materialize.ensure(spark, "graft_mf_test", data, 1)(build("v2"))
    assert(p2 == p1 && builds == 1 && content(p2) == "v1")
    Materialize.append(spark, "graft_mf_test", data, 1) { p =>
      Seq("appended").toDF("content").write.mode("append").parquet(p)
    }
    assert(spark.read.parquet(p1).count() == 2)

    // a MODIFIED recorded child marks the artifact stale: append refuses,
    // ensure rebuilds under the SAME key — as a NEW generation (the stale
    // one keeps serving in-flight readers until gc's grace window)
    Thread.sleep(1100) // mtime granularity is a second on some filesystems
    Seq((1L, "uno")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$data/t.parquet")
    intercept[IllegalArgumentException] {
      Materialize.append(spark, "graft_mf_test", data, 1)(_ => ())
    }
    val p3 = Materialize.ensure(spark, "graft_mf_test", data, 1)(build("v3"))
    assert(p3 != p1 && builds == 2 && content(p3) == "v3")
    assert(Materialize.servingPath(spark, "graft_mf_test", data, 1) == p3,
      "new resolutions must serve the rebuilt generation")
    assert(spark.read.parquet(p3).count() == 1, "stale artifact fully replaced")
  }
}

object IncrementalIndexSpec {
  import graft.functions.TextFunctions.tokens
  import graft.operators.TextAnalysis
  import org.apache.spark.sql.expressions.Window

  /** Inline twin of `Retrieval.bm25BatchOverPostings`: the same ranking
    * with the corpus tokenized per call, the anchor the indexed path is
    * checked against. */
  def bm25BatchInline(queries: DataFrame, docs: DataFrame, k: Int): DataFrame = {
    import TextAnalysis.Bm25Quant
    val qRel = queries.select(col("qid"), col("term")).distinct()
    val tok = docs.select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
    val dl = tok.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val qTerms = qRel.select(col("term")).distinct()
    val matched = tok.select(col("doc_id"), explode(col("tk")).as("term"))
      .join(broadcast(qTerms), "term")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val perQuery = matched.join(broadcast(df), "term").join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), col("term"),
        TextAnalysis.bm25Qs(col("tf"), col("df"), col("n"), col("sdl"), col("dl")).as("qs"))
      .join(broadcast(qRel), "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("qs")).as("score_q"))
    perQuery
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score_q").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("doc_id"), col("n_terms"),
        (col("score_q").cast("double") / Bm25Quant.toDouble).as("bm25"))
      .orderBy(col("qid"), col("bm25").desc, col("doc_id"))
  }
}
