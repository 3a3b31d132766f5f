package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The deferred-overlay ingest cadence, end-to-end (round 12 — previously
  * SCALE.md prose): a corpus bootstraps its label pair and e2e chain, a
  * batch ARRIVES as a new data file, the per-batch step labels + screens
  * it while the corpus-global overlay stays deferred, and the
  * compaction-window refresh re-admits exactness. The load-bearing pins:
  *
  *  1. during the deferral window the served corpus view is STABLE
  *     (arrivals are labeled and screened but not yet admitted — the e2e
  *     manifest does not move);
  *  2. after the refresh, the chain's output EQUALS a from-scratch
  *     rebuild under the standing frozen LM model — deferral is a
  *     latency trade, never a correctness one.
  */
class IngestCadenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val srcDir = "/root/testdata/sf0.001"
  private val artDir = Files.createTempDirectory("graft-cadence-artifacts").toString
  private val dataDir = Files.createTempDirectory("graft-cadence-data").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.graft.materialize.dir", artDir)
    .appName("ingest-cadence-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def manifestRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** No job is running. The status tracker reads the listener-fed status
    * store, which trails job completion by milliseconds, so this waits up
    * to one second for it to catch up — far less than the seconds a job
    * still running would need. */
  private def noActiveJobs(): Boolean = {
    val deadline = System.nanoTime() + 1000000000L
    def active = spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty
    while (active && System.nanoTime() < deadline) Thread.sleep(20L)
    !active
  }

  test("ingest cadence: label+screen per batch, deferred overlay, refresh == from-scratch") {
    val all = spark.read.parquet(s"$srcDir/documents.parquet")
    val base = all.filter(pmod(col("doc_id"), lit(10L)) =!= 7L)
    val arrivals = all.filter(pmod(col("doc_id"), lit(10L)) === 7L)
    base.write.mode("overwrite").parquet(s"$dataDir/documents.parquet")

    // bootstrap: label pair + chain + band index over the standing corpus
    val m0 = manifestRows(Pipeline.corpusE2e(spark, dataDir))
    val baseN = base.count()
    assert(spark.read.parquet(
      TestArtifacts.docBaseOf(spark, dataDir)).count() == baseN)

    // a batch ARRIVES as a new sibling data file: the unseen split plus a
    // planted verbatim duplicate of a standing doc (text copied, new id)
    val dupSrc = base.orderBy(col("doc_id")).limit(1).collect().head
    val planted = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(900000001L, dupSrc.getAs[String]("text"),
          dupSrc.getAs[String]("lang"), dupSrc.getAs[String]("source"),
          dupSrc.getAs[Long]("n_chars"))), all.schema)
    val batch = arrivals.unionByName(planted)
    batch.write.mode("overwrite").parquet(s"$dataDir/documents_b1.parquet")
    assert(Tables.documents(spark, dataDir).count() == all.count() + 1,
      "the glob loader must see the arrived batch file")

    // per-batch step: labels append (batch text only), screens run
    val verdict = CorpusPrep.ingestIncrement(spark, dataDir,
      Tables.documents(spark, dataDir)
        .filter(col("doc_id") % 10L === 7L || col("doc_id") === 900000001L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val v = verdict(900000001L)
    assert(v.getAs[Boolean]("is_exact_dup"),
      "verbatim duplicate must fire the exact screen")
    assert(v.getAs[Long]("exact_dup_of") == dupSrc.getAs[Long]("doc_id"))
    assert(v.getAs[Boolean]("is_near_dup") &&
      v.getAs[Long]("dup_of") == dupSrc.getAs[Long]("doc_id"),
      "identical text ⇒ identical signature ⇒ the band screen must fire")
    assert(!v.getAs[Boolean]("provisional_admit"))
    assert(verdict.size == batch.count(),
      "every arrival gets a verdict row")

    // row-local labels: appended base == from-scratch labeling of the
    // full corpus under the SAME frozen model (the docbase append pin,
    // here over a real arrived file rather than a carved slice)
    val model = LmQuality.ensureModel(spark, dataDir)
    val appendedBase = manifestRows(
      spark.read.parquet(TestArtifacts.docBaseOf(spark, dataDir))
        .orderBy("doc_id"))
    val rebuiltBase = manifestRows(
      CorpusPrep.docBaseOver(spark, Tables.documents(spark, dataDir), model)
        .orderBy("doc_id"))
    assert(appendedBase.size == all.count() + 1 && appendedBase == rebuiltBase)

    // DEFERRAL: the overlay was not touched, so the served chain view is
    // stable — arrivals are not yet admitted and the manifest equals the
    // bootstrap manifest bit for bit
    assert(spark.read.parquet(
      graft.Materialize.servingPath(spark, "graft_docglobal", dataDir,
        CorpusPrep.DocGlobalVersion)).count() == baseN,
      "deferred overlay must still cover exactly the standing corpus")
    assert(manifestRows(Pipeline.corpusE2e(spark, dataDir)) == m0,
      "deferral window: the served corpus view must not move")

    // REFRESH at the compaction window: exact corpus-global pass; the
    // chain rebuilds transitively and the arrivals enter the corpus
    CorpusPrep.compactionRefresh(spark, dataDir)
    val mRefreshed = manifestRows(Pipeline.corpusE2e(spark, dataDir))
    assert(mRefreshed != m0, "refresh must admit the arrivals")

    // FROM-SCRATCH arm under the same frozen LM model: drop the label
    // pair (the chain goes stale transitively) and rebuild everything
    graft.Materialize.invalidate(spark, "graft_docbase", dataDir,
      CorpusPrep.DocBaseVersion)
    graft.Materialize.invalidate(spark, "graft_docglobal", dataDir,
      CorpusPrep.DocGlobalVersion)
    val mScratch = manifestRows(Pipeline.corpusE2e(spark, dataDir))
    assert(mRefreshed == mScratch,
      "deferred-then-refreshed cadence must equal the from-scratch rebuild")
  }

  test("delta overlay: backfill demotions and eval-arrival contamination equal the full rebuild") {
    // A crafted corpus exercising every way an arrival can flip a
    // STANDING doc's corpus-global labels — the paths the gated
    // corpus_overlay_delta row covers statistically, pinned here by
    // construction:
    //  - arrival 5 is a verbatim copy of standing 20 with a SMALLER id
    //    (backfill): exact-canon demotion;
    //  - arrival 3 is a one-word-off near-dup of standing 30 with a
    //    smaller id: near-canon demotion through the band structure;
    //  - arrival 14 is an EVAL doc (14 % 7 == 0) quoting an 8-token
    //    window of standing 10: contamination flips on an old train doc.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def doc(id: Long, text: String) =
      org.apache.spark.sql.Row(id, text, "en", "crafted", text.length.toLong)
    val schema = spark.read.parquet(s"$srcDir/documents.parquet").schema
    def df(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
    val standing = df(Seq(
      doc(10L, base),
      doc(20L, "one two three four five six seven eight nine ten"),
      doc(30L, "red orange yellow green blue indigo violet cyan magenta white"),
      doc(40L, "totally unrelated filler text with enough tokens to window out")))
    val arrivals = df(Seq(
      doc(5L, "one two three four five six seven eight nine ten"),
      doc(3L, "red orange yellow green blue indigo violet cyan magenta black"),
      doc(14L, s"an eval doc quoting $base verbatim")))
    val all = standing.unionByName(arrivals)

    val full = CorpusPrep.docGlobalOverDocs(all)
    val delta = CorpusPrep.deltaOverlayOver(
      CorpusPrep.normHashRows(all), Dedup.bandRows(all),
      CorpusPrep.docWinRows(all), CorpusPrep.docGlobalOverDocs(standing))
    def sorted(d: DataFrame): Seq[Seq[Any]] =
      d.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    val fullRows = sorted(full)
    assert(fullRows == sorted(delta),
      "delta refresh must equal the from-scratch overlay")

    // non-vacuity: each intended flip actually happened in the rebuilt
    // labels (and therefore, by the equality above, in the delta output)
    val by = fullRows.map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(by(20L)(1) == false, "backfill exact copy must demote standing 20")
    assert(by(5L)(1) == true)
    assert(by(30L)(1) == false, "backfill near-dup must demote standing 30")
    assert(by(10L)(2) == true, "arriving eval doc must contaminate standing 10")
    val prior = CorpusPrep.docGlobalOverDocs(standing).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(prior(20L).getBoolean(1) && prior(30L).getBoolean(1) &&
      !prior(10L).getBoolean(2),
      "the crafted flips must not hold before the arrivals")
  }

  test("delta overlay refresh (serving face) == the from-scratch compaction refresh") {
    val dDir = Files.createTempDirectory("graft-cadence-delta").toString
    val all = spark.read.parquet(s"$srcDir/documents.parquet")
    val base = all.filter(pmod(col("doc_id"), lit(10L)) =!= 3L)
    val batch = all.filter(pmod(col("doc_id"), lit(10L)) === 3L)
    base.write.mode("overwrite").parquet(s"$dDir/documents.parquet")
    // bootstrap the label pair over the standing corpus (the PRIOR
    // overlay generation the delta will extend)
    TestArtifacts.docBaseOf(spark, dDir)
    CorpusPrep.ensureDocGlobal(spark, dDir)
    // a batch arrives; the per-batch cadence step labels + screens it
    batch.write.mode("overwrite").parquet(s"$dDir/documents_b1.parquet")
    CorpusPrep.ingestIncrement(spark, dDir,
      Tables.documents(spark, dDir).filter(pmod(col("doc_id"), lit(10L)) === 3L))
    // compaction window: the DELTA refresh must leave the artifact equal
    // to what the full from-scratch refresh would build
    def sortedRows(p: String): Seq[Seq[Any]] =
      spark.read.parquet(p).collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
    val delta = sortedRows(CorpusPrep.deltaOverlayRefresh(spark, dDir))
    graft.Materialize.invalidate(spark, "graft_docglobal", dDir,
      CorpusPrep.DocGlobalVersion)
    val full = sortedRows(CorpusPrep.ensureDocGlobal(spark, dDir))
    assert(delta.size == all.count() && delta == full,
      "delta-refreshed overlay must equal the from-scratch rebuild")
  }

  test("refreshPlan: the pure dispatch rule's decision table") {
    import graft.Materialize.refreshPlan
    // nothing arrived → the standing artifact is current (ensure no-ops
    // unless the manifest says re-publish)
    assert(refreshPlan(n = 50000, arrivals = 0) == "ensure")
    // under the corpus floor the delta's fixed probe overhead exceeds the
    // whole rebuild (the measured sf0.01 anchor)
    assert(refreshPlan(n = 500, arrivals = 50) == "rebuild")
    // at replica scale with a minority batch the delta wins (the measured
    // 10×/100× anchors)
    assert(refreshPlan(n = 50000, arrivals = 5000) == "delta")
    // an onboarding-sized backfill recomputes ~the whole corpus: delta
    // would pay the rebuild's work plus its own probe overhead
    assert(refreshPlan(n = 50000, arrivals = 40000) == "rebuild")
    // boundary: exactly the majority fraction still dispatches delta
    // (the cut is a strict >)
    assert(refreshPlan(n = 50000, arrivals = 25000) == "delta")
  }

  test("compaction refresh dispatch: every arm serves the same artifact a rebuild would") {
    val dDir = Files.createTempDirectory("graft-cadence-auto").toString
    val all = spark.read.parquet(s"$srcDir/documents.parquet")
    val base = all.filter(pmod(col("doc_id"), lit(10L)) =!= 4L)
    val batch = all.filter(pmod(col("doc_id"), lit(10L)) === 4L)
    base.write.mode("overwrite").parquet(s"$dDir/documents.parquet")

    // no committed overlay yet → the face bootstraps through plain ensure
    TestArtifacts.docBaseOf(spark, dDir)
    val (p0, d0) = CorpusPrep.compactionRefreshAuto(spark, dDir)
    assert(d0 == "bootstrap" &&
      spark.read.parquet(p0).count() == base.count())

    // nothing arrived since → "ensure", and the artifact does not move
    val m0 = spark.read.parquet(p0).collect().map(_.toString).sorted.toSeq
    val (p1, d1) = CorpusPrep.compactionRefreshAuto(spark, dDir)
    assert(d1 == "ensure" && p1 == p0 &&
      spark.read.parquet(p1).collect().map(_.toString).sorted.toSeq == m0)

    // a batch arrives through the cadence; at this corpus size (under the
    // default floor) the dispatcher must pick the exact rebuild
    batch.write.mode("overwrite").parquet(s"$dDir/documents_b1.parquet")
    CorpusPrep.ingestIncrement(spark, dDir,
      Tables.documents(spark, dDir).filter(pmod(col("doc_id"), lit(10L)) === 4L))
    val (p2, d2) = CorpusPrep.compactionRefreshAuto(spark, dDir)
    assert(d2 == "rebuild" && spark.read.parquet(p2).count() == all.count())

    // a second arrival, floor forced under the corpus: the delta arm must
    // fire and leave the artifact equal to the from-scratch rebuild
    val batch2 = all.filter(pmod(col("doc_id"), lit(10L)) === 4L)
      .withColumn("doc_id", col("doc_id") + 800000000L)
    batch2.write.mode("overwrite").parquet(s"$dDir/documents_b2.parquet")
    CorpusPrep.ingestIncrement(spark, dDir,
      Tables.documents(spark, dDir).filter(col("doc_id") >= 800000000L))
    // the dispatcher's count-arithmetic arrival derivation (docbase
    // distinct ids minus overlay count-star) must equal the anti-join it
    // replaced, on live cadence state with a genuine pending arrival
    val baseIds = spark.read.parquet(TestArtifacts.docBaseOf(spark, dDir))
      .select(col("doc_id")).distinct()
    val overlay = spark.read.parquet(graft.Materialize.servingPath(
      spark, "graft_docglobal", dDir, CorpusPrep.DocGlobalVersion))
    assert(baseIds.count() - overlay.count() ==
      baseIds.join(overlay.select(col("doc_id")), Seq("doc_id"), "left_anti").count(),
      "count arithmetic and the anti-join must agree on the arrival count")
    val (p3, d3) = CorpusPrep.compactionRefreshAuto(spark, dDir, floorDocs = 1L)
    assert(d3 == "delta")
    def sortedRows(p: String): Seq[Seq[Any]] =
      spark.read.parquet(p).collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
    val deltaRows = sortedRows(p3)
    graft.Materialize.invalidate(spark, "graft_docglobal", dDir,
      CorpusPrep.DocGlobalVersion)
    assert(deltaRows == sortedRows(CorpusPrep.ensureDocGlobal(spark, dDir)),
      "the dispatched delta arm must equal the from-scratch rebuild")

    // majority cut: a backfill larger than half the corpus rebuilds even
    // over the floor
    assert(graft.Materialize.refreshPlan(n = 100, arrivals = 60,
      floorDocs = 1L) == "rebuild")
  }

  test("re-published input: the prior is rejected as a delta base; the dispatcher rebuilds") {
    val dDir = Files.createTempDirectory("graft-cadence-republish").toString
    val all = spark.read.parquet(s"$srcDir/documents.parquet")
    val base = all.filter(pmod(col("doc_id"), lit(10L)) =!= 5L)
    base.write.mode("overwrite").parquet(s"$dDir/documents.parquet")
    TestArtifacts.docBaseOf(spark, dDir)
    CorpusPrep.ensureDocGlobal(spark, dDir)
    // re-publish: the corpus file is REWRITTEN in place with different
    // contents — the manifest's staleness case, NOT an append. The prior
    // overlay's rows derive from the old text; carrying them forward in
    // a delta would launder the staleness into a fresh manifest.
    val base2 = base
      .withColumn("text", concat(col("text"), lit(" republished")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    base2.write.mode("overwrite").parquet(s"$dDir/documents.parquet")
    assert(!graft.Materialize.isDeltaBase(spark, "graft_docglobal", dDir,
      CorpusPrep.DocGlobalVersion))
    intercept[IllegalArgumentException] {
      CorpusPrep.deltaOverlayRefresh(spark, dDir)
    }
    // the dispatcher routes the same state to the exact rebuild
    val (p, dec) = CorpusPrep.compactionRefreshAuto(spark, dDir, floorDocs = 1L)
    assert(dec == "rebuild" && spark.read.parquet(p).count() == base.count())
  }

  test("a corpus file that skipped ingestIncrement: the dispatcher refuses loudly") {
    val dDir = Files.createTempDirectory("graft-cadence-rogue").toString
    val all = spark.read.parquet(s"$srcDir/documents.parquet")
    val base = all.filter(pmod(col("doc_id"), lit(10L)) =!= 8L)
    val rogue = all.filter(pmod(col("doc_id"), lit(10L)) === 8L)
    base.write.mode("overwrite").parquet(s"$dDir/documents.parquet")
    TestArtifacts.docBaseOf(spark, dDir)
    CorpusPrep.ensureDocGlobal(spark, dDir)
    // the batch lands in the corpus dir but NOBODY ran the cadence step:
    // it is in neither docbase nor the overlay, so the dispatcher's id
    // diff cannot see it — returning "ensure" as success here would
    // permanently exclude these docs from the served overlay
    rogue.write.mode("overwrite").parquet(s"$dDir/documents_rogue.parquet")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.compactionRefreshAuto(spark, dDir, floorDocs = 1L)
    }
    assert(e.getMessage.contains("ingestIncrement"))
  }

  test("a duplicated overlay (replayed un-tagged append): the dispatcher refuses loudly") {
    // The dispatcher's arrival count is ARITHMETIC (docbase distinct ids
    // minus overlay count-star), exact only while overlay rows are unique
    // per doc. An un-tagged ingestIncrement replay lands duplicate rows the
    // distinct-id coverage guard cannot see — covered then OVERCOUNTS and
    // arrivals would silently undercount. The guard must fail loudly, not
    // return "ensure" as success.
    val dDir = Files.createTempDirectory("graft-cadence-dupoverlay").toString
    val all = spark.read.parquet(s"$srcDir/documents.parquet")
    all.filter(pmod(col("doc_id"), lit(10L)) =!= 6L)
      .write.mode("overwrite").parquet(s"$dDir/documents.parquet")
    TestArtifacts.docBaseOf(spark, dDir)
    val overlayPath = CorpusPrep.ensureDocGlobal(spark, dDir)
    // the broken state itself: overlay rows doubled for a slice of docs
    spark.read.parquet(overlayPath).limit(5)
      .write.mode("append").parquet(overlayPath)
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.compactionRefreshAuto(spark, dDir, floorDocs = 1L)
    }
    assert(e.getMessage.contains("overlay"))
  }

  test("a cadence step that crashed between its appends converges on replay") {
    // ingestIncrement commits THREE batch-keyed appends (docbase labels,
    // band index, window postings). A JVM that dies after the first
    // commit leaves the cadence half-applied; each appendBatch is
    // idempotent per-artifact, but the COMPOUND scenario — replaying the
    // whole step over a half-applied state — carries its own risk: the
    // already-committed docbase rows must not leak into the screens'
    // standing side and flag the batch as a dup of itself. Pinned
    // against a clean twin dir: same corpus, same batch, no crash.
    val all = spark.read.parquet(s"$srcDir/documents.parquet")
    val baseF = pmod(col("doc_id"), lit(10L)) =!= 4L
    val batchF = pmod(col("doc_id"), lit(10L)) === 4L
    val tag = "p1"
    def runCadence(partialFirst: Boolean): (String, Seq[Seq[Any]]) = {
      val dir = Files.createTempDirectory("graft-cadence-crashrep").toString
      all.filter(baseF).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      TestArtifacts.docBaseOf(spark, dir)
      all.filter(batchF).write.mode("overwrite")
        .parquet(s"$dir/documents_b1.parquet")
      val arrived = Tables.documents(spark, dir).filter(batchF)
      if (partialFirst) // the "crash": only the docbase append committed
        Materialize.append(spark, CorpusPrep.docBase(spark, dir), dir, arrived, Some(tag))
      (dir, CorpusPrep.ingestIncrement(spark, dir, arrived,
        batchTag = Some(tag))
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")))
    }
    val (crashedDir, vCrash) = runCadence(partialFirst = true)
    val (cleanDir, vClean) = runCadence(partialFirst = false)
    assert(vCrash == vClean,
      "replayed verdicts must equal a clean run's — the partial attempt's " +
        "docbase rows must not reach the screens' standing side")
    def artRows(dir: String): Seq[Seq[Any]] = {
      val docs = Tables.documents(spark, dir)
      Seq(
        spark.read.parquet(TestArtifacts.docBaseOf(spark, dir)),
        spark.read.parquet(Materialize.ensure(spark, Dedup.BandIndex, dir, docs)),
        spark.read.parquet(Materialize.ensure(spark, CorpusPrep.DocWins, dir, docs)))
        .flatMap(_.collect().map(_.toSeq)).sortBy(_.mkString("|"))
    }
    assert(artRows(crashedDir) == artRows(cleanDir),
      "crash-then-replay must leave every cadence artifact equal to a " +
        "clean single run — no doubled labels, bands, or window postings")
  }

  test("compaction clock: committed pending batches dispatch the fold; contents unchanged") {
    val dir = Files.createTempDirectory("graft-cadence-clock").toString
    val all = spark.read.parquet(s"$srcDir/documents.parquet")
    all.filter(pmod(col("doc_id"), lit(4L)) =!= 0L)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TestArtifacts.docBaseOf(spark, dir)
    // two batches arrive through the cadence step — each lands one
    // batch-file set in all three appended artifacts
    Seq(0L, 4L).zipWithIndex.foreach { case (rem, i) =>
      all.filter(pmod(col("doc_id"), lit(8L)) === rem)
        .write.mode("overwrite").parquet(s"$dir/documents_b$i.parquet")
      CorpusPrep.ingestIncrement(spark, dir,
        Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(8L)) === rem),
        batchTag = Some(s"t$i")).count()
    }
    val kinds = Seq("graft_docbase" -> CorpusPrep.DocBaseVersion,
      "graft_bands" -> graft.operators.Dedup.BandsVersion, "graft_docwins" -> CorpusPrep.DocWinsVersion)
    def pend(k: (String, Int)): Int =
      graft.Materialize.pendingBatches(spark, k._1, dir, k._2)
    def rowsOf(k: (String, Int)): Seq[String] =
      spark.read.parquet(
          graft.Materialize.servingPath(spark, k._1, dir, k._2))
        .collect().map(_.toString).toSeq.sorted
    assert(kinds.map(pend) == Seq(2, 2, 2))
    val before = kinds.map(rowsOf)
    // an uncommitted partial attempt is REPAIR debt, not read debt — it
    // must not advance the clock (and the fold repairs it away below)
    val wp = new org.apache.hadoop.fs.Path(graft.Materialize.servingPath(
      spark, "graft_docwins", dir, CorpusPrep.DocWinsVersion))
    val fs = wp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val donor = fs.listStatus(wp)
      .filter(_.getPath.getName.endsWith(".parquet")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, donor.getPath, fs,
      new org.apache.hadoop.fs.Path(wp, "batch-torphan-0.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(pend(kinds(2)) == 2,
      "an unmarked partial attempt must not advance the clock")
    // under the budget: every artifact defers, nothing moves
    assert(CorpusPrep.compactCadenceIfDue(spark, dir, maxPending = 3L)
      .values.toSet == Set("defer"))
    assert(kinds.map(pend) == Seq(2, 2, 2))
    // at the budget: every artifact folds; contents unchanged (and the
    // planted orphan repaired away, not folded in); the clock resets
    assert(CorpusPrep.compactCadenceIfDue(spark, dir, maxPending = 2L)
      .values.toSet == Set("compact"))
    assert(kinds.map(pend) == Seq(0, 0, 0))
    assert(kinds.map(rowsOf) == before,
      "the fold must reorganize files, never change contents")
    // markers survived the fold: a late replay of a folded batch still
    // no-ops through the whole cadence step
    CorpusPrep.ingestIncrement(spark, dir,
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(8L)) === 0L),
      batchTag = Some("t0")).count()
    assert(kinds.map(rowsOf) == before,
      "a folded batch's replay must still no-op")
  }

  test("ingest into a dir without a docbase is refused before any chain starts") {
    val dir = Files.createTempDirectory("graft-cadence-noboot").toString
    spark.read.parquet(s"$srcDir/documents.parquet")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.ingestIncrement(spark, dir, Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(10L)) === 3L))
    }
    assert(e.getMessage.contains("docbase"))
    assert(noActiveJobs(), "no chain of the refused increment may still be running")
    assert(!graft.Materialize.isBuilt(spark, "graft_docwins", dir,
      CorpusPrep.DocWinsVersion), "the refused increment must not build docwins")
  }

  test("a replayed tag's screens never plan over the crashed attempt's files") {
    val dir = Files.createTempDirectory("graft-cadence-replayread").toString
    val all = spark.read.parquet(s"$srcDir/documents.parquet")
    val batchF = pmod(col("doc_id"), lit(10L)) === 2L
    all.filter(!batchF).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val gen = new org.apache.hadoop.fs.Path(TestArtifacts.docBaseOf(spark, dir))
    all.filter(batchF).write.mode("overwrite").parquet(s"$dir/documents_b1.parquet")
    // the crashed attempt of tag p1: a tag-prefixed data file in the
    // docbase generation without its commit marker, which the replay's
    // repair deletes
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = gen.getFileSystem(conf)
    val donor = fs.listStatus(gen).filter(_.getPath.getName.endsWith(".parquet")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, donor.getPath, fs,
      new org.apache.hadoop.fs.Path(gen, "batch-p1-crashed.parquet"), false, conf)
    val verdict = CorpusPrep.ingestIncrement(spark, dir,
      Tables.documents(spark, dir).filter(batchF), batchTag = Some("p1"))
    assert(!verdict.inputFiles.exists(_.endsWith("batch-p1-crashed.parquet")),
      "the screens must read the docbase generation the append settled")
    assert(verdict.collect().length == all.filter(batchF).count())
  }

  test("Lineage.cutAll rethrows a failed cut only after its sibling cuts finish") {
    val slow = udf { (x: Long) => Thread.sleep(3000L); x }
    val failing = spark.range(1).select(raise_error(lit("planted cut failure")).as("x"))
    val slowOk = spark.range(2).select(slow(col("id")).as("x"))
    val e = intercept[Exception](Lineage.cutAll(failing, slowOk))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted cut failure")))
    assert(noActiveJobs(),
      "the sibling cut's job must have finished before the failure surfaced")
  }
}
