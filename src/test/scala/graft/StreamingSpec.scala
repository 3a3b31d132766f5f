package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.sql.Timestamp

/** Structured Streaming surface: the same transforms that pass the batch
  * oracle run incrementally over a MemoryStream with watermarks and
  * custom flatMapGroupsWithState sessionization. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  import StreamingSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .appName("streaming-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Minutes offset from 1970-01-02 — NOT epoch 0: the initial streaming
    * watermark is 0, and stateful ops drop rows with ts <= watermark, so an
    * epoch-0 event would silently vanish. */
  private val Base = 24L * 3600 * 1000
  private def ts(minute: Int): Timestamp = new Timestamp(Base + minute * 60000L)

  /** Serves batch core `f` from a stream: each micro-batch of `input` goes
    * through `f` and the result to `sink`. A core whose row results depend
    * only on the row itself against a static side is exact per micro-batch
    * however the requests chunk. `f` runs once per micro-batch, so build
    * the static side inside `f`: a read there lists the files anew and an
    * artifact append is visible on the next micro-batch, while a DataFrame
    * built outside `f` keeps the file listing it was created with. */
  private def perBatch(input: DataFrame)(f: DataFrame => DataFrame)
                      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) => sink(f(b), id) }
      .start()

  test("streaming tumbling counts match the batch run of the same transform") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("click", ts(5), 1.0), ("click", ts(20), 2.0), ("view", ts(40), 3.0),
      ("click", ts(65), 4.0), ("view", ts(70), 5.0), ("click", ts(200), 6.0))
    val stream = MemoryStream[(String, Timestamp, Double)]
    stream.addData(rows: _*)
    val sdf = stream.toDF().toDF("event_type", "ts", "value")
    val q = tumblingCounts(sdf)
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("tumbling_out")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = tumblingCounts(rows.toDF("event_type", "ts", "value"))
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == batch.toSeq)
    // hour 0: click(n=2)+view, hour 1: click+view, hour 3: click → 5 rows
    assert(got.length == 5)
    assert(got.map(_._3).sum == rows.length)
  }

  test("watermark drops rows later than the threshold in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, Double)]
    val sdf = stream.toDF().toDF("event_type", "ts", "value")
    val q = tumblingCounts(sdf)
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      stream.addData(("click", ts(30), 1.0))
      q.processAllAvailable()
      // Advance watermark far past hour 0: max event time 10h → wm 8h.
      stream.addData(("click", ts(600), 1.0))
      q.processAllAvailable()
      // This row is 9+ hours late — behind the watermark; state for its
      // window was already finalized and emitted.
      stream.addData(("late", ts(10), 99.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("wm_out").collect()
    // Hour-0 window was emitted once (1 row, the on-time click) and the
    // late row never re-opened it.
    val hour0 = out.filter(_.getTimestamp(0).getTime == Base)
    assert(hour0.length == 1)
    assert(hour0.head.getLong(2) == 1L)
  }

  test("flatMapGroupsWithState sessionization matches session_window semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // User 1: events at 0, 5, 12 min (gap 10m: 5→12 is 7m, chains) then 40
    // (breaks). User 2: single event. Boundary case user 3: 0 and exactly
    // +10m — touching sessions merge.
    val evs = Seq(
      Event(1L, ts(0), 1.0), Event(1L, ts(5), 2.0), Event(1L, ts(12), 3.0),
      Event(1L, ts(40), 4.0),
      Event(2L, ts(7), 5.0),
      Event(3L, ts(0), 6.0), Event(3L, ts(10), 7.0))

    // Batch reference via the same fold + session_window cross-check.
    val batchOut = sessionizeBatch(evs.toDS()).collect()
      .sortBy(s => (s.user_id, s.session_start)).toSeq
    val sw = evs.toDF("user_id", "ts", "value")
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).cast("int").as("n"), sum("value").as("s"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("start"),
        col("n"), col("s"))
      .collect().map(r => SessionOut(r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(s => (s.user_id, s.session_start)).toSeq
    assert(batchOut == sw)

    // Streaming: two micro-batches; a far-future event advances the
    // watermark so every session times out and flushes.
    val stream = MemoryStream[Event]
    val q = sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      stream.addData(evs.take(4): _*)
      q.processAllAvailable()
      stream.addData(evs.drop(4): _*)
      q.processAllAvailable()
      stream.addData(Event(99L, ts(24 * 60), 0.0)) // watermark pusher
      q.processAllAvailable()
      stream.addData(Event(99L, ts(48 * 60), 0.0)) // flush the pusher's own session
      q.processAllAvailable()
    } finally q.stop()
    val streamOut = spark.table("sess_out").as[SessionOut].collect()
      .filter(_.user_id != 99L)
      .sortBy(s => (s.user_id, s.session_start)).toSeq
    assert(streamOut == batchOut)
  }

  test("stream-static enrichment matches the batch join of the same inputs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val rows = Seq((1L, ts(1), 1.0), (2L, ts(2), 2.0), (3L, ts(3), 3.0))
    val stream = MemoryStream[(Long, Timestamp, Double)]
    stream.addData(rows: _*)
    val sdf = stream.toDF().toDF("user_id", "ts", "value")
    val q = enrichStream(sdf, dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enrich_out")
      .select("user_id", "tier").as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    val batch = enrichStream(rows.toDF("user_id", "ts", "value"), dim, "user_id")
      .select("user_id", "tier").as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == batch)
    assert(got == Seq((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
  }

  test("streaming dedup keeps first arrival per key and drops in-watermark duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, Double)]
    val sdf = stream.toDF().toDF("doc_key", "ts", "value")
    val q = dedupStream(sdf, "doc_key")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      stream.addData(("a", ts(5), 1.0), ("b", ts(6), 2.0), ("a", ts(7), 99.0))
      q.processAllAvailable()
      // Later batch: duplicate of a still-watermarked key is dropped; a
      // new key passes.
      stream.addData(("b", ts(20), 99.0), ("c", ts(21), 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_out")
      .select("doc_key", "value").as[(String, Double)].collect().sorted.toSeq
    // First arrival's value survives for every key; duplicates vanish.
    assert(out == Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)))
  }

  test("stream-stream interval join matches the batch join of the same inputs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq((1L, ts(0), 1.0), (1L, ts(90), 2.0), (2L, ts(10), 3.0))
    val purchases = Seq(
      (1L, ts(30), 10.0),   // within 1h of click@0
      (1L, ts(100), 20.0),  // within 1h of click@90 only
      (2L, ts(80), 30.0),   // 70min after click@10 — outside the hour
      (3L, ts(5), 40.0))    // no click
    val batch = intervalJoinStreams(
        clicks.toDF("user_id", "ts", "value"),
        purchases.toDF("user_id", "ts", "value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(2), r.getDouble(3)))
      .sorted.toSeq
    assert(batch == Seq((1L, ts(30), 10.0), (1L, ts(100), 20.0)))

    val cs = MemoryStream[(Long, Timestamp, Double)]
    val ps = MemoryStream[(Long, Timestamp, Double)]
    val q = intervalJoinStreams(
        cs.toDF().toDF("user_id", "ts", "value"),
        ps.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    try {
      cs.addData(clicks.take(2): _*); ps.addData(purchases.take(2): _*)
      q.processAllAvailable()
      cs.addData(clicks.drop(2): _*); ps.addData(purchases.drop(2): _*)
      q.processAllAvailable()
      // push both watermarks far ahead so every joinable pair flushes
      cs.addData((99L, ts(48 * 60), 0.0)); ps.addData((99L, ts(48 * 60 + 1), -1.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sj_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(2), r.getDouble(3)))
      .filter(_._1 != 99L).sorted.toSeq
    assert(streamed == batch)
  }

  test("streaming JSONL ingest (file source) matches the batch rescue aggregation") {
    import graft.sources.CorpusIngest
    val dir = "/root/testdata/sf0.001"
    val path = CorpusIngest.jsonlPath(spark, dir)
    val stream = spark.readStream
      .schema(CorpusIngest.JsonlSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
    val agg = stream
      .select(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
        .otherwise(col("source")).as("src"),
        when(col("_corrupt_record").isNull, col("doc_id")).as("clean_id"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("clean_id")).as("min_id"), max(col("clean_id")).as("max_id"))
    val q = agg.writeStream.format("memory").queryName("jsonl_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("jsonl_stream")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val batch = CorpusIngest.jsonlRescue(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.exists(_._1 == "_corrupt"))
  }

  test("streaming CDC apply converges to the batch latest-wins merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Change]
    val q = applyChangesStream(stream.toDS())
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("update").start()
    try {
      // Batch 1: initial snapshot rows.
      stream.addData(Change(1L, 1L, 10.0, "U"), Change(2L, 1L, 20.0, "U"),
        Change(3L, 1L, 30.0, "U"))
      q.processAllAvailable()
      // Batch 2: update key 1, delete key 2, and a LATE lower-version
      // change for key 3 that must not regress the snapshot.
      stream.addData(Change(1L, 3L, 11.0, "U"), Change(2L, 2L, 0.0, "D"),
        Change(3L, 0L, 99.0, "U"))
      q.processAllAvailable()
      // Batch 3: same-version delete/upsert tie on key 1 → delete wins.
      stream.addData(Change(1L, 3L, 12.0, "U"), Change(1L, 3L, 0.0, "D"))
      q.processAllAvailable()
    } finally q.stop()
    // Update mode re-emits per batch; the LAST emission per key is the
    // converged snapshot.
    val last = spark.table("cdc_out").as[SnapRow].collect()
      .zipWithIndex.groupBy(_._1.key)
      .map { case (k, rs) => k -> rs.maxBy(_._2)._1 }
    assert(last(1L) == SnapRow(1L, 3L, 0.0, deleted = true))
    assert(last(2L) == SnapRow(2L, 2L, 0.0, deleted = true))
    assert(last(3L) == SnapRow(3L, 1L, 30.0, deleted = false))
  }

  test("streaming fuzzy search matches the batch flagship on the same query set") {
    import graft.operators.FuzzySearch
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val c = FuzzySearch.corpus(spark, dir)
    val queries = FuzzySearch.batchQueries(c).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(queries.length >= 2, "query table too small to split across batches")
    val postings = spark.read.parquet(FuzzySearch.ensurePostingsIndex(spark, dir, c))
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("qid", "clean_q")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => FuzzySearch.batchFuzzySearchOver(b, postings, c, 20)) {
      (out, _) => buf ++= out.collect().map(_.toSeq)
    }
    try {
      // Split the request stream across two micro-batches: per-qid results
      // must not depend on how requests chunk into batches.
      val (a, b) = queries.splitAt(queries.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = FuzzySearch.batchFuzzySearch(spark, dir, 20)
      .collect().map(_.toSeq)
    assert(buf.nonEmpty && buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming stop-gram fuzzy search matches the served batch cut on the same query set") {
    import graft.operators.FuzzySearch
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val c = FuzzySearch.corpus(spark, dir)
    val queries = FuzzySearch.batchQueries(c).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(queries.length >= 2, "query table too small to split across batches")
    val postings = spark.read.parquet(FuzzySearch.ensurePostingsIndex(spark, dir, c))
    val allowed = FuzzySearch.allowedGramsIndexed(spark, dir, c, 10L)
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("qid", "clean_q")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => FuzzySearch.batchFuzzySearchOver(b, postings, c, 20,
        Some(allowed))) {
      (out, _) => buf ++= out.collect().map(_.toSeq)
    }
    try {
      val (a, b) = queries.splitAt(queries.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = FuzzySearch.batchFuzzySearchStopGramIndexed(spark, dir, 20, 10L)
      .collect().map(_.toSeq)
    assert(buf.nonEmpty && buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("stop-gram stream picks up gram-stats appends on the next micro-batch") {
    // A gram-stats append between micro-batches must change the NEXT
    // batch's results without restarting the query. Exercised for real
    // here — the allowed set is built inside the per-batch core, so it
    // re-folds the artifact each micro-batch, stats start at the base
    // slice, and the append lands mid-stream.
    import graft.operators.FuzzySearch
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val Ver = 911
    // This test MUTATES artifacts (append mid-stream), so it must not
    // touch the shared warehouse: a re-run would find the appended stats
    // already in place (write-once ensure) and double-append. Isolate
    // under a per-run temp materialize dir, restored afterwards.
    val prevArtDir = spark.conf.getOption("spark.graft.materialize.dir")
    // The conf.set is the FIRST statement inside the try: an assert firing
    // anywhere in the setup below must still restore the shared session's
    // conf in the finally, or the temp dir leaks into every later suite.
    val (got1, got2, qaExpect, qbExpect) = try {
      spark.conf.set("spark.graft.materialize.dir",
        java.nio.file.Files.createTempDirectory("graft-stream-artifacts").toString)
      val c = FuzzySearch.corpus(spark, dir)
      val base = c.filter(pmod(col("id"), lit(7)) =!= 0)
      val batch = c.filter(pmod(col("id"), lit(7)) === 0)
      val postings = spark.read.parquet(FuzzySearch.ensurePostingsIndex(spark, dir, c))
      def expect(qs: Seq[(Long, String)], allowed: DataFrame): List[Seq[Any]] =
        FuzzySearch.batchFuzzySearchOver(qs.toDF("qid", "clean_q"), postings, c,
            20, Some(allowed))
          .collect().map(_.toSeq).toList.sortBy(_.mkString("|"))
      // Inline folds of the two stats states (additivity makes the appended
      // artifact fold equal the full-corpus fold, IncrementalIndexSpec).
      def allowedOf(rel: DataFrame, inv: Long): DataFrame = {
        val n = rel.count()
        FuzzySearch.gramDf(rel).filter(col("df") * inv <= n).select(col("ngram"))
      }
      def allowedSet(rel: DataFrame, inv: Long): Set[String] =
        allowedOf(rel, inv).collect().map(_.getString(0)).toSet
      // Real query texts rarely flip results under the cut (top-k is robust),
      // so probe with queries that ARE a single flipped gram — one whose
      // allowed-status changes with the append, in EITHER direction (df can
      // outgrow the cap, or n can outgrow a constant df). Such a query can
      // only reach candidates through itself, so pickup is directly
      // observable in its results.
      val pick = Seq(2L, 3L, 5L, 10L, 20L, 50L, 200L).iterator.map { i =>
        val (ab, af) = (allowedSet(base, i), allowedSet(c, i))
        val flipped = ((ab diff af) union (af diff ab))
          .filter(_.matches("[a-z0-9]{3}")).toSeq.sorted
        (i, flipped)
      }.find(_._2.nonEmpty)
      assert(pick.nonEmpty, "no df cap flips a gram's allowed-status on append")
      val (inv, flipped) = pick.get
      val texts = flipped.take(3)
      val qa = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val qb = texts.zipWithIndex.map { case (t, i) => ((i + 101).toLong, t) }
      assert(expect(qb, allowedOf(base, inv)) != expect(qb, allowedOf(c, inv)),
        "probe queries must observe the stats change")
      Materialize.ensure(spark, FuzzySearch.GramDf.copy(version = Ver), dir, base)
      Materialize.ensure(spark, FuzzySearch.GramN.copy(version = Ver), dir, base)
      val stream = MemoryStream[(Long, String)]
      val sdf = stream.toDF().toDF("qid", "clean_q")
      val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      val q = perBatch(sdf)(b => FuzzySearch.batchFuzzySearchOver(b, postings, c, 20,
          Some(FuzzySearch.allowedGramsIndexed(spark, dir, c, inv, version = Ver)))) {
        (out, _) => buf ++= out.collect().map(_.toSeq)
      }
      val (p1, p2) = try {
        stream.addData(qa: _*)
        q.processAllAvailable()
        val first = buf.toList.sortBy(_.mkString("|"))
        buf.clear()
        Materialize.append(spark, FuzzySearch.GramDf.copy(version = Ver), dir, batch)
        Materialize.append(spark, FuzzySearch.GramN.copy(version = Ver), dir, batch)
        stream.addData(qb: _*)
        q.processAllAvailable()
        (first, buf.toList.sortBy(_.mkString("|")))
      } finally q.stop()
      (p1, p2, expect(qa, allowedOf(base, inv)), expect(qb, allowedOf(c, inv)))
    } finally {
      prevArtDir match {
        case Some(p) => spark.conf.set("spark.graft.materialize.dir", p)
        case None => spark.conf.unset("spark.graft.materialize.dir")
      }
    }
    assert(got1 == qaExpect,
      "first micro-batch must serve the pre-append stats")
    assert(got2 == qbExpect,
      "second micro-batch must pick up the appended stats")
  }

  test("streaming ingest dedup screen matches the batch incremental screen") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val d = Tables.documents(spark, dir)
    val batchDocs = d.filter(col("doc_id") % Dedup.IncMod === Dedup.IncRem)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(batchDocs.length >= 2, "batch too small to split across micro-batches")
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    // the corpus side is the MATERIALIZED band artifact, re-read per
    // micro-batch — the same relation the batch gate probes
    val q = perBatch(sdf)(b => Dedup.incrementalNearDupsOver(b, Dedup.corpusBandsOf(spark, dir))) {
      (out, _) => buf ++= out.collect().map(_.toSeq)
    }
    try {
      // A doc's screen result depends only on its own row vs the static
      // corpus — chunking must not change the union of results.
      val (a, b) = batchDocs.splitAt(batchDocs.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = Dedup.incrementalNearDups(spark, dir).collect().map(_.toSeq)
    assert(buf.exists(_(1) == true), "no dup flagged — the stream pin is vacuous")
    assert(buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming ingest labeling matches the batch docbase labels on the same split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{CorpusPrep, LmQuality}
    val dir = "/root/testdata/sf0.001"
    val arriving = Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(arriving.length >= 2, "batch too small to split across micro-batches")
    val modelPath = LmQuality.ensureModel(spark, dir)
    val stream = MemoryStream[(Long, String, String)]
    val sdf = stream.toDF().toDF("doc_id", "source", "text")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => CorpusPrep.docBaseOverModel(b, spark.read.parquet(modelPath))) {
      (out, _) => buf ++= out.collect().map(_.toSeq)
    }
    try {
      // labels are row-local vs the frozen model — chunking must not
      // change the union of labeled rows
      val (a, b) = arriving.splitAt(arriving.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = CorpusPrep.docBaseOver(spark,
        Tables.documents(spark, dir).filter(col("doc_id") % 7 === 0),
        modelPath)
      .collect().map(_.toSeq)
    assert(want.nonEmpty && want.exists(_.last.asInstanceOf[Double] != 0.0),
      "no scored doc in the slice — the stream pin is vacuous")
    assert(buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming containment screen matches the batch screen on the same split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.001"
    val t = SparkEntry.P.ContainThreshold
    val canon = Dedup.canonGrams(spark, dir)
    val arriving = canon
      .filter(pmod(col("id"), lit(Dedup.IncMod)) === Dedup.IncRem)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val stream = MemoryStream[(Long, Seq[String])]
    val sdf = stream.toDF().toDF("id", "grams")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => Dedup.containmentScreenOver(b,
        Dedup.canonGrams(spark, dir)
          .filter(pmod(col("id"), lit(Dedup.IncMod)) =!= Dedup.IncRem),
        t)) { (out, _) => buf ++= out.collect().map(_.toSeq) }
    try {
      // a record's result depends only on itself vs the standing corpus —
      // chunking must not change the union of results
      val (a, b) = arriving.splitAt(arriving.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = Dedup.containmentScreen(spark, dir, t).collect().map(_.toSeq)
    assert(want.nonEmpty, "no screen hit at sf0.001 — the stream pin is vacuous")
    assert(buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming keyword search matches batch BM25 on the same request set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val reqs: Seq[(Long, String)] = Seq(
      0L -> "spark", 0L -> "query", 0L -> "table",
      1L -> "join", 1L -> "merge",
      2L -> "window", 2L -> "stream", 2L -> "sort",
      3L -> "customer", 3L -> "zzznothere")
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("qid", "term")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => graft.operators.Retrieval.bm25BatchOverPostings(b,
        graft.operators.Retrieval.wordPostingsOf(spark, dir),
        graft.operators.Retrieval.wordStatsOf(spark, dir), k = 15)) {
      (out, _) => buf ++= out.collect().map(_.toSeq)
    }
    try {
      // split BETWEEN requests (qids are atomic): qids 0-1 then 2-3
      val (a, b) = reqs.partition(_._1 <= 1L)
      stream.addData(a: _*)
      q.processAllAvailable()
      stream.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = graft.operators.Retrieval.bm25Batch(spark, dir, reqs, 15)
      .collect().map(_.toSeq)
    assert(buf.nonEmpty && buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming decontamination gate matches the batch screen on the same docs") {
    import graft.operators.CorpusPrep
    import org.apache.spark.sql.functions.{col, pmod, lit}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val train = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(CorpusPrep.EvalMod)) =!= 0)
      .select(col("doc_id"), col("source"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val evalW = CorpusPrep.evalWindowSet(spark, dir)
    val stream = MemoryStream[(Long, String, String, String)]
    val sdf = stream.toDF().toDF("doc_id", "source", "lang", "text")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => CorpusPrep.decontaminateOver(b, evalW)) { (out, _) =>
      buf ++= out.collect().map(_.toSeq)
    }
    try {
      val (a, b) = train.splitAt(train.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = CorpusPrep.decontaminate(spark, dir).collect().map(_.toSeq)
    assert(buf.exists(_(3) == true), "no contaminated doc — the stream pin is vacuous")
    assert(buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming DSIR gate matches the batch scoring on the same docs") {
    import graft.operators.Dsir
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val model = Dsir.modelOf(spark, dir)
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => Dsir.dsirScoreOver(b, model)) { (out, _) =>
      buf ++= out.collect().map(_.toSeq)
    }
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = Dsir.dsirScoreOver(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        model).collect().map(_.toSeq)
    assert(buf.exists(_(3).asInstanceOf[Long] > 0L),
      "every score zero — the stream pin is vacuous")
    assert(buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming quality gate matches indexed batch scoring on the same docs") {
    import graft.operators.QualityModel
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val weights = QualityModel.weightsOf(spark, dir)
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b =>
        QualityModel.scoreWith(QualityModel.featuresOver(b), weights)) { (out, _) =>
      buf ++= out.collect().map(_.toSeq)
    }
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = QualityModel.lrScoreIndexed(spark, dir).collect().map(_.toSeq)
    assert(buf.exists(_(3) == true) && buf.exists(_(3) == false),
      "degenerate predictions — the stream pin is vacuous")
    assert(buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming LM-fluency gate matches indexed batch scoring on the same docs") {
    import graft.operators.LmQuality
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val model = spark.read.parquet(LmQuality.ensureModel(spark, dir))
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => LmQuality.scoreAgainstModel(b, model)) { (out, _) =>
      buf ++= out.collect().map(_.toSeq)
    }
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = LmQuality.lmScoreIndexed(spark, dir).collect().map(_.toSeq)
    assert(buf.exists(_(2).asInstanceOf[Long] > 0L),
      "every quantized score zero — the stream pin is vacuous")
    assert(buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming minseg encoder matches the indexed batch encode on the same docs") {
    import graft.operators.Unigram
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val enc = spark.read.parquet(Unigram.ensureMinsegEnc(spark, dir))
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => Unigram.encodeOver(b, enc)) { (out, _) =>
      buf ++= out.collect().map(_.toSeq)
    }
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = Unigram.encodeIndexed(spark, dir).collect().map(_.toSeq)
    assert(buf.exists(_(1).asInstanceOf[Long] > 1L),
      "every doc one piece — the stream pin is vacuous")
    assert(buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming epoch scheduler matches the batch schedule on the same docs") {
    import graft.operators.Pipeline
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val plan = Pipeline.mixEpochCap(spark, dir)
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "source")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => Pipeline.epochScheduleOver(b, plan)) { (out, _) =>
      buf ++= out.collect().map(_.toSeq)
    }
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = Pipeline.mixEpochApply(spark, dir).collect().map(_.toSeq)
    assert(buf.map(_(2).asInstanceOf[Long]).distinct.size > 1,
      "all copy counts equal — the stream pin is vacuous")
    assert(buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("a posting-index append is visible to the running stream on the next micro-batch") {
    import graft.operators.FuzzySearch
    import org.apache.spark.sql.functions.{col, count, lit, pmod}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val c = FuzzySearch.corpus(spark, dir)
    val batchDocs = c.filter(pmod(col("id"), lit(7)) === 0)
    val baseDocs = c.filter(pmod(col("id"), lit(7)) =!= 0)
    // drop any artifact a previous run left (it would carry the append)
    TestArtifacts.purge(spark, "graft_postings", dir, 905)
    val path = Materialize.ensure(spark, FuzzySearch.Postings.copy(version = 905), dir, baseDocs)
    // target: an appended-batch doc that is its name group's WINNER under
    // the dedup order (score desc ⇒ highest population for an exact-match
    // query, tie → smallest id) — once indexed it must surface for its own
    // name, and cannot before (it has no postings yet)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("clean_value"))
      .orderBy(col("population").desc, col("id"))
    val target = c
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") === 1)
      .join(batchDocs.select(col("id")), "id")
      .orderBy(col("id"))
      .select(col("id"), col("clean_value")).head()
    val (targetId, targetQ) = (target.getLong(0), target.getString(1))
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("qid", "clean_q")
    val served = scala.collection.mutable.Map.empty[Long, Set[Long]]
    // the postings read is built inside the per-batch core: a fresh file
    // listing per micro-batch
    val q = perBatch(sdf)(b =>
        FuzzySearch.batchFuzzySearchOver(b, spark.read.parquet(path), c, 20)) { (out, bid) =>
      served(bid) = out.collect().map(_.getLong(1)).toSet
    }
    try {
      stream.addData((1L, targetQ))
      q.processAllAvailable()
      Materialize.append(spark, FuzzySearch.Postings.copy(version = 905), dir, batchDocs)
      stream.addData((2L, targetQ))
      q.processAllAvailable()
    } finally q.stop()
    assert(!served(0L).contains(targetId),
      s"target $targetId indexed before the append: ${served(0L)}")
    assert(served(1L).contains(targetId),
      s"append not visible on the next micro-batch: ${served(1L)}")
  }

  test("a DSIR model append is visible to the running stream on the next micro-batch") {
    import graft.operators.Dsir
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val d = Tables.documents(spark, dir)
    val base = d.filter(pmod(col("doc_id"), lit(3)) =!= 1)
    val inc = d.filter(pmod(col("doc_id"), lit(3)) === 1)
    // drop any artifact a previous run left (it would carry the append)
    TestArtifacts.purge(spark, "graft_dsirmodel", dir, 905)
    val path = Materialize.ensure(spark, Dsir.Model.copy(version = 905), dir, base)
    val probe = d.filter(col("doc_id") === 2L).select(col("doc_id"), col("text"))
    val probeRow = probe.collect().map(r => (r.getLong(0), r.getString(1))).head
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val served = scala.collection.mutable.Map.empty[Long, Long]
    // the model read is built inside the per-batch core: a fresh file
    // listing per micro-batch
    val q = perBatch(sdf)(b => Dsir.dsirScoreOver(b, spark.read.parquet(path))) { (out, bid) =>
      served(bid) = out.collect().head.getLong(2)
    }
    try {
      stream.addData(probeRow)
      q.processAllAvailable()
      Materialize.append(spark, Dsir.Model.copy(version = 905), dir, inc)
      stream.addData(probeRow)
      q.processAllAvailable()
    } finally q.stop()
    // exactness on both sides of the append: pre == base-only fit,
    // post == the union fit (fold-at-read == refit)
    def scoreUnder(model: org.apache.spark.sql.DataFrame): Long =
      Dsir.dsirScoreOver(probe, model).collect().head.getLong(2)
    val beforeWant = scoreUnder(Dsir.modelCounts(base))
    val afterWant = scoreUnder(Dsir.modelCounts(d))
    assert(beforeWant != afterWant,
      "append changed nothing — the visibility pin is vacuous")
    assert(served(0L) == beforeWant, s"pre-append score: ${served(0L)}")
    assert(served(1L) == afterWant,
      s"append not visible on the next micro-batch: ${served(1L)}")
  }

  test("streaming radius search matches the batch flagship on the same probe set") {
    import graft.operators.{GeoShapes, RadiusSearch}
    import org.apache.spark.sql.functions.{col, pmod, lit}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val radius = 25.0
    val shp = GeoShapes.shapes(spark, dir).filter(!col("is_aggregate"))
    // denser stride than the gate's BatchProbeMod: sf0.001 has only one
    // point shape at id % 97 == 0, and the split needs several probes
    val probes = shp.filter(pmod(col("id"), lit(13)) === 0)
      .select(col("id"), col("latitude"), col("longitude"), col("country"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
    assert(probes.length >= 2, "probe table too small to split across batches")
    val stream = MemoryStream[(Long, Double, Double, String)]
    val sdf = stream.toDF().toDF("probe_id", "p_lat", "p_lng", "p_country")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => RadiusSearch.radiusSearchBatchOver(b, shp, radius)) { (out, _) =>
      buf ++= out.collect().map(_.toSeq)
    }
    try {
      // Per-probe results must not depend on how requests chunk into batches.
      val (a, b) = probes.splitAt(probes.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val want = RadiusSearch.radiusSearchBatchOver(
      probes.toSeq.toDF("probe_id", "p_lat", "p_lng", "p_country"), shp, radius)
      .collect().map(_.toSeq)
    assert(buf.nonEmpty && buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming ANN over the materialized IVF index matches the batch core") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val (k, nprobe, mod) = (10, 2, 25L)
    val e = Tables.embeddings(spark, dir)
    val cent = Similarity.centroids(e, mod, Similarity.IvfNumCentroids)
    val indexed = spark.read.parquet(Similarity.ensureIvfIndex(
      spark, dir, e, cent, mod, Similarity.IvfNumCentroids))
    // denser stride than the gate's probe table so the split is non-trivial
    val probes = e.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(probes.length >= 2, "probe table too small to split across batches")
    val stream = MemoryStream[(Long, Array[Float])]
    val sdf = stream.toDF().toDF("pid", "pemb")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => Similarity.ivfBatchTopKOver(b, indexed, cent, k, nprobe)) {
      (out, _) => buf ++= out.collect().map(_.toSeq)
    }
    try {
      val (a, b) = probes.splitAt(probes.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the batch core with INLINE assignment — also pins index == inline
    val want = Similarity.ivfBatchTopKOver(
      probes.toSeq.toDF("pid", "pemb"),
      e.join(Similarity.cellAssignment(e, cent).select(col("vec_id"), col("cell")), "vec_id"),
      cent, k, nprobe)
      .collect().map(_.toSeq)
    assert(buf.nonEmpty && buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming IVF-PQ ANN over the codes artifact matches the batch core") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val (k, nprobe, mod) = (10, 2, 25L)
    val e = Tables.embeddings(spark, dir)
    val cent = Similarity.centroids(e, mod, Similarity.IvfNumCentroids)
    val books = Similarity.pqCodebooks(e, mod)
    val codesPath = Materialize.ensure(spark,
      Similarity.ivfPqCodes(cent, books, mod, Similarity.IvfNumCentroids), dir, e)
    val labels = e.select(col("vec_id"), col("label"))
    // denser stride than the gate's probe table so the split is non-trivial
    val probes = e.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(probes.length >= 2, "probe table too small to split across batches")
    val stream = MemoryStream[(Long, Array[Float])]
    val sdf = stream.toDF().toDF("pid", "pemb")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = perBatch(sdf)(b => Similarity.ivfPqBatchTopKOver(b,
        spark.read.parquet(codesPath), cent, books, labels, k, nprobe)) { (out, _) =>
      buf ++= out.collect().map(_.toSeq)
    }
    try {
      val (a, b) = probes.splitAt(probes.length / 2)
      stream.addData(a.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the batch core with INLINE-encoded, inline-assigned codes — also
    // pins artifact == inline for the compressed path
    val want = Similarity.ivfPqBatchTopKOver(
      probes.toSeq.toDF("pid", "pemb"),
      Similarity.pqCodesWide(e, books)
        .join(Similarity.cellAssignment(e, cent), "vec_id"),
      cent, books, labels, k, nprobe)
      .collect().map(_.toSeq)
    assert(buf.nonEmpty && buf.sortBy(_.mkString("|")).toList ==
      want.sortBy(_.mkString("|")).toList)
  }

  test("streaming ingest cadence == the batch cadence; a replayed micro-batch converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{CorpusPrep, Dedup}
    val srcDir = "/root/testdata/sf0.001"
    val prevArtDir = spark.conf.getOption("spark.graft.materialize.dir")
    try {
      spark.conf.set("spark.graft.materialize.dir",
        java.nio.file.Files.createTempDirectory("graft-cadstream-art").toString)
      val sDir = java.nio.file.Files.createTempDirectory("graft-cadstream").toString
      val tDir = java.nio.file.Files.createTempDirectory("graft-cadtwin").toString
      val all = spark.read.parquet(s"$srcDir/documents.parquet")
      val base = all.filter(pmod(col("doc_id"), lit(10L)) =!= 6L)
      val b1 = all.filter(pmod(col("doc_id"), lit(20L)) === 6L)
      val b2 = all.filter(pmod(col("doc_id"), lit(20L)) === 16L)
      assert(b1.count() > 0 && b2.count() > 0)
      base.write.mode("overwrite").parquet(s"$sDir/documents.parquet")
      base.write.mode("overwrite").parquet(s"$tDir/documents.parquet")
      // bootstrap both corpora's standing label half (frozen LM model)
      TestArtifacts.docBaseOf(spark, sDir)
      TestArtifacts.docBaseOf(spark, tDir)

      def tuples(df: DataFrame): Seq[(Long, String, String, String, Long)] =
        df.select("doc_id", "text", "lang", "source", "n_chars").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4))).toSeq

      // STREAM arm: two micro-batches through the full-cadence sink
      val stream = MemoryStream[(Long, String, String, String, Long)]
      val sdf = stream.toDF()
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      val seenIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = StreamOps.ingestCadenceStream(sdf, sDir) { (out, bid) =>
        buf ++= out.collect().map(_.toSeq)
        seenIds += bid
      }
      try {
        stream.addData(tuples(b1): _*)
        q.processAllAvailable()
        stream.addData(tuples(b2): _*)
        q.processAllAvailable()
      } finally q.stop()

      // TWIN arm: the same two batches through the batch cadence
      val twinBuf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      b1.write.mode("overwrite").parquet(s"$tDir/documents_b1.parquet")
      twinBuf ++= CorpusPrep.ingestIncrement(spark, tDir, b1)
        .collect().map(_.toSeq)
      b2.write.mode("overwrite").parquet(s"$tDir/documents_b2.parquet")
      twinBuf ++= CorpusPrep.ingestIncrement(spark, tDir, b2)
        .collect().map(_.toSeq)

      // verdict parity: the stream saw the same standing state per batch
      assert(buf.nonEmpty && buf.sortBy(_.mkString("|")).toList ==
        twinBuf.sortBy(_.mkString("|")).toList)
      // corpus parity: the raw micro-batch files joined the glob corpus
      assert(Tables.documents(spark, sDir).count() == all.count())
      // artifact parity across all three cadence artifacts
      def rowsAt(p: String): List[String] =
        spark.read.parquet(p).collect().map(_.toString).toList.sorted
      val sBase = rowsAt(TestArtifacts.docBaseOf(spark, sDir))
      assert(sBase == rowsAt(TestArtifacts.docBaseOf(spark, tDir)))
      def standing(dir: String): DataFrame =
        Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val sBands = rowsAt(Materialize.ensure(spark, Dedup.BandIndex, sDir, standing(sDir)))
      assert(sBands == rowsAt(Materialize.ensure(spark, Dedup.BandIndex, tDir, standing(tDir))))
      val sWins = rowsAt(Materialize.ensure(spark, CorpusPrep.DocWins, sDir, standing(sDir)))
      assert(sWins == rowsAt(Materialize.ensure(spark, CorpusPrep.DocWins, tDir, standing(tDir))))

      // REPLAY: re-deliver micro-batch 1 under its own tag (foreachBatch's
      // at-least-once failure mode) — the tag is CONTENT-derived, so the
      // redelivery maps to it under any engine batch id — every artifact
      // must converge, not double, and the recomputed verdicts must equal
      // the originals
      val replayVerdicts = CorpusPrep.ingestIncrement(spark, sDir, b2,
          batchTag = Some(StreamOps.cadenceBatchTag(b2))).collect().map(_.toSeq)
      assert(rowsAt(TestArtifacts.docBaseOf(spark, sDir)) == sBase,
        "replayed batch must not double the docbase labels")
      assert(rowsAt(Materialize.ensure(spark, Dedup.BandIndex, sDir, standing(sDir))) == sBands,
        "replayed batch must not double the band rows")
      assert(rowsAt(Materialize.ensure(spark, CorpusPrep.DocWins, sDir, standing(sDir))) == sWins,
        "replayed batch must not double the window postings")
      val b2Ids = b2.select("doc_id").collect().map(_.getLong(0)).toSet
      val b2Verdicts = twinBuf.toList
        .filter(r => b2Ids.contains(r.head.asInstanceOf[Long]))
      assert(replayVerdicts.toList.sortBy(_.mkString("|")) ==
        b2Verdicts.sortBy(_.mkString("|")))

      // RESTART: a NEW query on a fresh checkpoint reissues engine batch
      // id 0. An id-keyed tag would hand this NEW batch b1's committed
      // marker and silently drop its documents; the content-derived tag
      // must admit it.
      val b3 = b2.withColumn("doc_id", col("doc_id") + lit(10000000L))
        .withColumn("text", concat(col("text"), lit(" restart-batch")))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val stream2 = MemoryStream[(Long, String, String, String, Long)]
      val sdf2 = stream2.toDF()
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val q2 = StreamOps.ingestCadenceStream(sdf2, sDir) { (out, _) =>
        out.collect(); ()
      }
      try {
        stream2.addData(tuples(b3): _*)
        q2.processAllAvailable()
      } finally q2.stop()
      assert(Tables.documents(spark, sDir).count() == all.count() + b3.count(),
        "a restarted stream's new batch (engine id 0 again) must be admitted")
      val b3Ids = b3.select("doc_id").collect().map(_.getLong(0)).toSet
      val labeledIds = spark.read.parquet(TestArtifacts.docBaseOf(spark, sDir))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(b3Ids.subsetOf(labeledIds),
        "the restart batch's docs must be labeled in the docbase")
    } finally {
      prevArtDir match {
        case Some(p) => spark.conf.set("spark.graft.materialize.dir", p)
        case None => spark.conf.unset("spark.graft.materialize.dir")
      }
    }
  }
}

/** The window, join, dedup, change-feed and sessionization transforms the
  * spec runs under both `spark.read` and `spark.readStream`. */
object StreamingSpec {

  /** Tumbling 1-hour counts per event type with a 2-hour watermark: late
    * rows beyond the watermark are dropped, on-time aggregation state is
    * bounded. Works on batch and streaming inputs alike (on batch the
    * watermark is a no-op, per Spark semantics). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Stream-static enrichment: the event stream joined to a static (batch)
    * dimension — Spark re-plans the static side per micro-batch, so a
    * broadcastable dimension costs one broadcast per batch and no stream
    * state at all. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup: first arrival of each `keyCol` wins,
    * duplicates arriving within the watermark horizon are dropped, and
    * the key state is EVICTED once the watermark passes it (bounded state
    * at any stream length — a plain dropDuplicates would grow state
    * forever). */
  def dedupStream(events: DataFrame, keyCol: String): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stream-stream interval join: purchases attributed to the click they
    * followed within one hour, both sides watermarked so the join state
    * for a time range is EVICTED once the watermark passes it (the time
    * bound is what makes an append-mode stream-stream join legal at all).
    * Batch-runs identically. */
  def intervalJoinStreams(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours").alias("c")
    val p = purchases.withWatermark("ts", "2 hours").alias("p")
    c.join(p, expr(
        """c.user_id = p.user_id AND
          |p.ts >= c.ts AND p.ts <= c.ts + interval 1 hour""".stripMargin))
      .select(col("c.user_id").as("user_id"), col("c.ts").as("click_ts"),
        col("p.ts").as("purchase_ts"), col("p.value").as("purchase_value"))
  }

  case class Change(key: Long, version: Long, price: Double, op: String)
  case class SnapRow(key: Long, version: Long, price: Double, deleted: Boolean)

  /** A change feed (upserts + delete markers, possibly out of order) folded
    * into per-key latest-wins state via mapGroupsWithState; each batch
    * emits the key's current snapshot row. Higher version wins; at equal
    * versions a delete beats an upsert. State is ONE row per live key, and
    * a late lower-version change never regresses the snapshot. */
  def applyChangesStream(changes: Dataset[Change]): Dataset[SnapRow] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .mapGroupsWithState[SnapRow, SnapRow](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Change], state: GroupState[SnapRow]) =>
          val prior = state.getOption
            .map(s => Change(key, s.version, s.price, if (s.deleted) "D" else "U"))
          val winner = (prior.iterator ++ rows)
            .maxBy(c => (c.version, if (c.op == "D") 1 else 0))
          val out = SnapRow(key, winner.version, winner.price, winner.op == "D")
          state.update(out)
          out
      }
  }

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Int, sum: Double)
  case class SessionOut(user_id: Long, session_start: Long, n_events: Int,
                        sum_value: Double)

  val SessionGapMs: Long = 10 * 60 * 1000L

  private def closed(userId: Long, s: SessionState): SessionOut =
    SessionOut(userId, s.start / 1000, s.n, s.sum)

  /** One user's events, in time order, folded onto the open session
    * `open`: an event within [[SessionGapMs]] of the session's last event
    * extends it (boundary-touching rows merge), a later one closes it and
    * opens the next. Returns the closed sessions and the one left open. */
  private def foldSessions(userId: Long, open: Option[SessionState],
                           rows: Iterator[Event]): (Vector[SessionOut], Option[SessionState]) =
    rows.toSeq.sortBy(_.ts.getTime).foldLeft((Vector.empty[SessionOut], open)) {
      case ((done, Some(s)), e) if e.ts.getTime <= s.lastTs + SessionGapMs =>
        (done, Some(s.copy(lastTs = math.max(s.lastTs, e.ts.getTime), n = s.n + 1,
          sum = s.sum + e.value)))
      case ((done, cur), e) =>
        val t = e.ts.getTime
        (done ++ cur.map(closed(userId, _)), Some(SessionState(t, t, 1, e.value)))
    }

  /** Stateful sessionization via flatMapGroupsWithState, matching
    * `session_window` with a 10-minute gap: a session closes when event
    * time passes lastTs + gap (emitted on the next batch for that key) or
    * the group's event-time timeout fires. State per key is ONE open
    * session; the watermark bounds how long idle state lives. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(closed(userId, s))
          } else {
            val (done, open) = foldSessions(userId, state.getOption, rows)
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + SessionGapMs)
            }
            done.iterator
          }
      }
  }

  /** The batch run of [[sessionize]] with every open session flushed: in
    * batch mode each group sees ALL its rows in one call and nothing times
    * out, so the open session left by the fold is the user's last one. */
  def sessionizeBatch(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).flatMapGroups { (userId, rows) =>
      val (done, open) = foldSessions(userId, None, rows)
      (done ++ open.map(closed(userId, _))).iterator
    }
  }
}
