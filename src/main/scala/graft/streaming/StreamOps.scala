package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming face of the engine (SURVEY.md §2.10). The reference is
  * request/response-only; the driver's north star adds stream-shaped data
  * (`events` with `ts`), so the window operators are written once as
  * DataFrame→DataFrame transforms and run under BOTH `spark.read` (batch,
  * oracle-checked via graft.operators.EventOps) and `spark.readStream`
  * (incremental, watermark-bounded state) — the same Catalyst plan modulo
  * the StateStore exchange.
  */
object StreamOps {

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
    * state at all. This is the streaming face of the batch broadcast
    * lookup (ShapeOps.batchLookup): dimension changes are picked up on the
    * next batch without restarting the query. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup at ingest — the stream face of the dedup
    * family: first arrival of each `keyCol` wins, duplicates arriving
    * within the watermark horizon are dropped, and the key state is
    * EVICTED once the watermark passes it (bounded state at any stream
    * length — a plain dropDuplicates would grow state forever). This is
    * the training-pipeline pattern of deduplicating a document firehose
    * by content fingerprint before it ever lands. */
  def dedupStream(events: DataFrame, keyCol: String): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stream-stream interval join: purchases attributed to the click they
    * followed within one hour, both sides watermarked so the join state
    * for a time range is EVICTED once the watermark passes it (bounded
    * state at any stream length — the time bound is what makes an
    * append-mode stream-stream join legal at all). Batch-runs identically
    * for the spec. */
  def intervalJoinStreams(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours").alias("c")
    val p = purchases.withWatermark("ts", "2 hours").alias("p")
    c.join(p, expr(
        """c.user_id = p.user_id AND
          |p.ts >= c.ts AND p.ts <= c.ts + interval 1 hour""".stripMargin))
      .select(col("c.user_id").as("user_id"), col("c.ts").as("click_ts"),
        col("p.ts").as("purchase_ts"), col("p.value").as("purchase_value"))
  }

  // -------------------------------------------- streaming fuzzy search

  /** Streaming face of the flagship fuzzy pipeline: a STREAM of queries
    * (`qid`, `clean_q`) served against the STATIC materialized posting
    * index + corpus — the stream-shaped form of the reference's
    * request/response `fuzzy_search` loop (geo_manager.py:525-619, one
    * call per request). Each micro-batch runs the exact
    * `FuzzySearch.batchFuzzySearchOver` plan — bloom-pruned index probe,
    * per-qid 500-cap, fetch, score, dedup, top-k — via `foreachBatch`:
    * the per-qid window tail is not expressible in append-mode streaming,
    * and it doesn't need to be, because a query's result depends only on
    * its OWN row, so per-micro-batch evaluation is exact regardless of
    * how requests chunk into batches (StreamingSpec pins stream-total ==
    * `fuzzy_batch` on the same query set, split across batches).
    * `postings`/`corpus` are BY-NAME: each micro-batch re-evaluates them,
    * so a caller passing `graft.Tables.parquet(spark, path)` gets a FRESH file
    * listing per batch and an index APPEND (Materialize.append) is picked
    * up on the next batch without restarting the query (spec-pinned). A
    * pre-built DataFrame would pin its InMemoryFileIndex at creation and
    * never see new files. */
  def fuzzyStream(queries: DataFrame, postings: => DataFrame, corpus: => DataFrame,
                  numResults: Int,
                  cap: Int = graft.operators.FuzzySearch.DefaultCap)
                 (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.FuzzySearch.batchFuzzySearchOver(
          batch, postings, corpus, numResults, cap), batchId)
      }
      .start()

  /** Streaming face of the SERVED stop-gram cut
    * (`FuzzySearch.batchFuzzySearchStopGramIndexed`) — the deployment
    * plan for low-entropy corpora, where the uncut stream would pay the
    * candidate cliff on every micro-batch (SCALE.md, sf1 rehearsal).
    * Identical per-micro-batch plan: bloom-pruned index probe with the
    * broadcast allowed-gram set joined inside the scan stage. `allowed`
    * is BY-NAME like `postings`/`corpus`: re-evaluated each micro-batch,
    * so gram-stats appends (`FuzzySearch.GramDf`/`GramN`) are picked up on the next
    * batch without restarting the query. Exact under any request
    * chunking for the same reason fuzzyStream is (a query's result
    * depends only on its own row); StreamingSpec pins stream-total ==
    * the batch operator on the same query set split across batches. */
  def fuzzyStopgramStream(queries: DataFrame, postings: => DataFrame,
                          allowed: => DataFrame, corpus: => DataFrame,
                          numResults: Int,
                          cap: Int = graft.operators.FuzzySearch.DefaultCap)
                         (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.FuzzySearch.batchFuzzySearchOver(
          batch, postings, corpus, numResults, cap, Some(allowed)), batchId)
      }
      .start()

  // -------------------------------------------- streaming radius search

  /** Streaming face of the radius flagship: a STREAM of probes
    * (`probe_id`, `p_lat`, `p_lng`, `p_country`) resolved against the
    * STATIC point-shape table — the stream-shaped form of the reference's
    * per-request `radius_search` (geo_manager.py:237-348). Each
    * micro-batch runs the exact `RadiusSearch.radiusSearchBatchOver`
    * banded equi-join; a probe's result set depends only on its own row,
    * so per-micro-batch evaluation is exact regardless of how requests
    * chunk into batches (StreamingSpec pins stream-total ==
    * `geo_radius_batch` on the same probe set, split across batches).
    * `shapes` is BY-NAME — re-evaluated per micro-batch, so an ingest
    * append (GeoIngest.append) is picked up on the next batch when the
    * caller passes a fresh read (see fuzzyStream). */
  def radiusStream(probes: DataFrame, shapes: => DataFrame, radiusMiles: Double)
                  (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    probes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.RadiusSearch.radiusSearchBatchOver(
          batch, shapes, radiusMiles), batchId)
      }
      .start()

  // ---------------------------------------------- streaming ANN search

  /** Streaming face of batch IVF ANN: a STREAM of probe vectors (`pid`,
    * `pemb`) served against the STATIC materialized cell-partitioned IVF
    * index + constant-C codebook. Each micro-batch runs the exact
    * `Similarity.ivfBatchTopKOver` plan — probe cells from probes ×
    * broadcast codebook, candidates by equi-join on the cell key (the
    * partitioned index read prunes to the union of the batch's probed
    * cells), per-probe exact re-rank. A probe's top-k depends only on its
    * own row, so per-micro-batch evaluation is exact under any request
    * chunking (StreamingSpec pins stream-total == `ann_ivf_batch` on the
    * same probe set, split across batches). `indexed`/`cent` are BY-NAME —
    * re-evaluated per micro-batch, so an index APPEND
    * (`Materialize.append` of `Similarity.ivfIndex`) is visible on the next micro-batch
    * when the caller passes a fresh read (see fuzzyStream). */
  def annStream(probes: DataFrame, indexed: => DataFrame, cent: => DataFrame,
                k: Int, nprobe: Int)
               (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    probes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Similarity.ivfBatchTopKOver(
          batch, indexed, cent, k, nprobe), batchId)
      }
      .start()

  /** Streaming face of batch IVF-PQ ANN (the COMPRESSED serving path): a
    * STREAM of probe vectors (`pid`, `pemb`) served against the STATIC
    * cell-partitioned codes artifact — each micro-batch runs the exact
    * `Similarity.ivfPqBatchTopKOver` plan (per-probe cells from probes ×
    * broadcast codebook, candidates by the (pid, cell) join against the
    * pruned codes read, per-probe ADC LUT scoring — the float vectors are
    * never scanned). A probe's top-k depends only on its own row, so
    * per-micro-batch evaluation is exact under any request chunking
    * (StreamingSpec pins stream-total == the batch core on the same probe
    * set split across batches). `codes`/`cent`/`books`/`labels` are
    * BY-NAME — re-evaluated per micro-batch, so a codes APPEND
    * (`Materialize.append` of `Similarity.ivfPqCodes`) is visible on the next micro-batch
    * when the caller passes a fresh read (see fuzzyStream). */
  def annPqStream(probes: DataFrame, codes: => DataFrame, cent: => DataFrame,
                  books: => DataFrame, labels: => DataFrame,
                  k: Int, nprobe: Int)
                 (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    probes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Similarity.ivfPqBatchTopKOver(
          batch, codes, cent, books, labels, k, nprobe), batchId)
      }
      .start()

  // --------------------------------------- streaming ingest dedup screen

  /** Streaming face of the incremental near-dup screen: a STREAM of new
    * documents (`doc_id`, `text`) screened against the STANDING corpus's
    * LSH band relation — the ingest-gate shape of dedup_incremental: every
    * arriving document is flagged before it enters the corpus, without
    * ever re-running the corpus self-join. Each micro-batch runs the exact
    * `Dedup.incrementalNearDupsOver` plan (batch band keys fold into a
    * bloom probed inside the corpus band scan, exact band join +
    * estimated-Jaccard verify). A doc's screen result depends only on its
    * own row vs the static corpus, so per-micro-batch evaluation is exact
    * under any request chunking (StreamingSpec pins stream-total ==
    * `dedup_incremental` on the same batch split across micro-batches).
    * `corpusBands` is BY-NAME — re-evaluated per micro-batch, so a corpus
    * band append is visible on the next batch when the caller passes a
    * fresh read (see fuzzyStream). */
  def dedupScreenStream(docs: DataFrame, corpusBands: => DataFrame)
                       (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Dedup.incrementalNearDupsOver(batch, corpusBands), batchId)
      }
      .start()

  // --------------------------------------- streaming ingest labeling

  /** Streaming face of the ROW-LOCAL label half (the round-11 docbase
    * split): a STREAM of arriving documents (`doc_id`, `source`, `text`)
    * labeled per micro-batch with the EXACT `CorpusPrep.docBaseOverModel`
    * plan — language/quality gates, token + BPE-piece counts, content
    * hash, LM score against the FROZEN served model. This is the
    * ingest-side twin of the `CorpusPrep.docBase` append: every docbase column is
    * row-local (the LM score is text vs a static artifact), so
    * per-micro-batch evaluation is exact under any chunking
    * (StreamingSpec pins stream-total == the batch labeling of the same
    * docs split across micro-batches). `model` is BY-NAME — re-evaluated
    * per micro-batch, so an LM retrain (version-bumped artifact) is
    * visible on the next batch when the caller passes a fresh read (see
    * fuzzyStream). The corpus-global overlay half deliberately has NO
    * stream face — canonicality and contamination flip on OLD docs as
    * batches arrive — so arrivals pass the dedup/containment screens
    * instead and the exact overlay re-labels on the compaction cadence
    * (SCALE.md §build-rehearsal). */
  def labelStream(docs: DataFrame, model: => DataFrame)
                 (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.CorpusPrep.docBaseOverModel(batch.toDF(), model),
          batchId)
      }
      .start()

  // ----------------------------------- streaming ingest cadence (full)

  /** The ENTIRE per-batch ingest cadence as a streaming sink — the
    * composition of the gate faces with the cadence's artifact appends:
    * each micro-batch of arriving documents (full `documents` schema —
    * it becomes a corpus file) is (1) committed to the corpus dir as
    * `documents_stream_<tag>.parquet`, skipped when a completed prior
    * attempt's marker exists; (2) run through
    * `CorpusPrep.ingestIncrement` with [[cadenceBatchTag]] — a
    * CONTENT-derived idempotence tag, see there for why the engine's
    * batch id cannot be the identity — for the row-local labels, exact +
    * near-dup screens against the standing corpus, and band/window-
    * posting admits; (3) the screen verdicts flow to `sink`.
    * `foreachBatch` is AT-LEAST-ONCE: a replayed micro-batch re-delivers
    * the same rows (⇒ the same content tag, under any batch id), the
    * raw-file write skips on its committed marker, and the batch-keyed
    * appends (`Materialize.appendBatch`) converge to
    * one copy — so the corpus and every cadence artifact end
    * EXACTLY-ONCE without a transactional sink, and the recomputed
    * verdicts are exact because the screens anti-join the batch's own
    * ids (replay-pure). The corpus-global overlay stays on its
    * compaction clock: run `CorpusPrep.compactionRefreshAuto` between
    * or after streams — nothing here touches it (IngestCadenceSpec
    * pins the served chain stable during deferral). */
  /** The cadence's idempotence identity for one micro-batch: derived from
    * the batch's CONTENT (order-independent hash over the FULL row —
    * every column, folded in name order so column order can't matter —
    * plus the row count), never from the engine's batch id. A `foreachBatch`
    * id is only unique within one checkpoint lineage — a restarted stream
    * on a fresh checkpoint reissues id 0, and an id-keyed tag would then
    * silently skip a NEW batch whose id collides with a committed marker
    * (dropping its documents with no error). Content keying gives both
    * halves: a redelivered identical batch maps to the same tag under ANY
    * id (replay converges), and a batch differing in ANY column — a
    * corrected lang/source backfill, not just new text — is a different
    * batch and can never inherit a committed tag. Two batches with an
    * identical row multiset ARE the same data, so folding them is
    * exactly-once on content. The per-row hashes span the full Long
    * range, so the multiset fold sums in decimal(38,0) — two xxhash64
    * values already overflow a Long sum under ANSI — and wraps back to
    * 64 bits at the end (the wrap keeps the fold order-independent AND
    * bounded). The tag SCHEME is part of the artifact contract: replay
    * convergence holds within one scheme, so quiesce a stream (let its
    * checkpoint commit) before deploying code that changes the
    * derivation — an in-flight batch committed under the old scheme
    * would be re-admitted under the new one. */
  def cadenceBatchTag(batch: DataFrame): String =
    cadenceTagAndCount(batch)._1

  /** The tag plus the row count it already folds — one aggregate job, so
    * the stream's per-batch path needs no separate isEmpty pass. */
  private[graft] def cadenceTagAndCount(batch: DataFrame): (String, Long) = {
    val r = batch
      .agg(coalesce(sum(xxhash64(batch.columns.sorted.map(col).toSeq: _*)
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"),
        count(lit(1)).as("n"))
      .head()
    val h = r.getDecimal(0).toBigInteger
      .mod(java.math.BigInteger.ONE.shiftLeft(64))
    (s"c${r.getLong(1)}_${h.toString(16)}", r.getLong(1))
  }

  def ingestCadenceStream(docs: DataFrame, dir: String,
                          checkpoint: Option[String] = None,
                          availableNow: Boolean = false)
                         (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // the tag aggregate already folds the row count, so it doubles
        // as the emptiness check — one job, not an isEmpty pass plus a
        // second full evaluation of the uncached micro-batch
        val (tag, n) = cadenceTagAndCount(batch.toDF())
        if (n > 0L) {
          val spark = batch.sparkSession
          val raw = new org.apache.hadoop.fs.Path(
            s"$dir/documents_stream_$tag.parquet")
          val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(new org.apache.hadoop.fs.Path(raw, "_SUCCESS")))
            batch.toDF().write.mode("overwrite").parquet(raw.toString)
          sink(graft.operators.CorpusPrep.ingestIncrement(spark, dir,
            batch.toDF(), batchTag = Some(tag)), batchId)
        }
      }
    // a durable checkpoint additionally keeps the SOURCE offsets across
    // restarts (so a recovered stream resumes instead of re-reading);
    // the artifact layer's idempotence does not depend on it
    checkpoint.foreach(cp => w.option("checkpointLocation", cp))
    // drain-and-stop mode: process everything currently available in the
    // source (respecting per-trigger limits like maxFilesPerTrigger, so
    // the micro-batch boundaries are real), then terminate — the
    // backfill / gated-row face of the otherwise continuous cadence
    if (availableNow)
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    w.start()
  }

  // --------------------------------- streaming containment ingest screen

  /** Streaming face of the batch-vs-corpus containment screen: a STREAM
    * of arriving records (`id`, `grams`) checked for near-containment
    * inside any STANDING canonical record — the asymmetric ingest gate
    * next to dedupScreenStream ("is this record a quote/subset of
    * something we already hold"). Each micro-batch runs the exact
    * `Dedup.containmentScreenOver` plan (one-sided prefix probe into the
    * corpus posting relation, exact verify). A record's result depends
    * only on its own grams vs the static corpus, so per-micro-batch
    * evaluation is exact under any chunking (StreamingSpec pins
    * stream-total == the batch screen on the same split across
    * micro-batches). `corpus` is BY-NAME — re-evaluated per micro-batch,
    * so a corpus append is visible on the next batch when the caller
    * passes a fresh read (see fuzzyStream). */
  def containmentScreenStream(records: DataFrame, corpus: => DataFrame,
                              threshold: Double)
                             (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    records.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Dedup.containmentScreenOver(batch, corpus, threshold), batchId)
      }
      .start()

  // --------------------------------------------- streaming keyword search

  /** Streaming face of batch BM25: a STREAM of search requests (`qid`,
    * `term` — one row per query term) served against the MATERIALIZED
    * word-posting index. Each micro-batch runs the exact
    * `Retrieval.bm25BatchOverPostings` plan (bloom-probed posting read —
    * never a corpus tokenize per micro-batch); a request's ranking depends
    * only on its own terms vs the static corpus stats, so per-micro-batch
    * evaluation is exact under any chunking PROVIDED a qid's term rows
    * arrive in one batch (requests are atomic — the same contract
    * fuzzyStream has for its per-qid rows). StreamingSpec pins
    * stream-total == `text_bm25_batch` on the same request set split
    * across micro-batches. `postings`/`stats` are BY-NAME — an appended
    * index is visible on the next batch (see fuzzyStream). */
  def searchStream(requests: DataFrame, postings: => DataFrame,
                   stats: => DataFrame, k: Int)
                  (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    requests.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Retrieval.bm25BatchOverPostings(batch, postings, stats, k), batchId)
      }
      .start()

  // --------------------------------------- streaming decontamination gate

  /** Streaming face of eval-set decontamination: a STREAM of candidate
    * training documents (`doc_id`, `source`, `lang`, `text`) screened
    * against the STATIC eval-suite window set before admission — the
    * second ingest gate next to dedupScreenStream. Each micro-batch runs
    * the exact `CorpusPrep.decontaminateOver` plan (train windows ×
    * broadcast eval window set, distinct semi-join). A doc's flag depends
    * only on its own windows vs the static eval set, so per-micro-batch
    * evaluation is exact under any chunking (StreamingSpec pins
    * stream-total == `corpus_decontaminate` on the same docs split across
    * micro-batches). `evalWindows` is BY-NAME — a refreshed eval suite is
    * visible on the next batch (see fuzzyStream). */
  def decontaminateStream(docs: DataFrame, evalWindows: => DataFrame)
                         (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.CorpusPrep.decontaminateOver(batch, evalWindows), batchId)
      }
      .start()

  // ------------------------------------------- streaming DSIR data gate

  /** Streaming face of DSIR scoring: a STREAM of candidate documents
    * (`doc_id`, `text`) scored against the MATERIALIZED fit model — the
    * third ingest gate next to dedupScreenStream and decontaminateStream:
    * an arriving document gets its domain-resemblance weight before
    * admission, without ever re-fitting the model. Each micro-batch runs
    * the exact `Dsir.dsirScoreOver` plan (broadcast ratio table, one
    * doc_id exchange). A doc's score depends only on its own grams vs the
    * static model, so per-micro-batch evaluation is exact under any
    * chunking (StreamingSpec pins stream-total == the batch scoring of
    * the same docs). `model` is BY-NAME — an appended fit batch is
    * visible on the next micro-batch (see fuzzyStream). */
  def dsirStream(docs: DataFrame, model: => DataFrame)
                (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Dsir.dsirScoreOver(batch, model), batchId)
      }
      .start()

  // ---------------------------------------- streaming quality-model gate

  /** Streaming face of the trained quality classifier: a STREAM of
    * candidate documents scored under the MATERIALIZED weight artifact —
    * the model-based filter applied at ingest (the CCNet/GPT-3 crawl
    * gate), never re-training per micro-batch. Features are row-local, so
    * per-micro-batch evaluation is exact under any chunking
    * (StreamingSpec pins stream-total == `quality_lr_indexed` on the same
    * docs). `weights` is BY-NAME — a refit (new artifact version/ensure)
    * is visible on the next micro-batch. */
  def qualityScoreStream(docs: DataFrame, weights: => DataFrame)
                        (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.QualityModel.scoreWith(
          graft.operators.QualityModel.featuresOver(batch), weights), batchId)
      }
      .start()

  // --------------------------------------------- streaming LM-fluency gate

  /** Streaming face of the trained-LM fluency filter: a STREAM of
    * candidate documents (`doc_id`, `text`) scored under the
    * MATERIALIZED `graft_lmmodel` artifact — the CCNet-style perplexity
    * gate applied at ingest, never re-training the LM per micro-batch.
    * Each micro-batch runs the exact `LmQuality.scoreAgainstModel` plan
    * (kind-pruned model branches, bigram-key join, one doc_id exchange).
    * A doc's score depends only on its own bigrams vs the static model,
    * so per-micro-batch evaluation is exact under any chunking
    * (StreamingSpec pins stream-total == `lm_score_indexed` on the same
    * docs). `model` is BY-NAME — a retrained artifact (new
    * version/ensure) is visible on the next micro-batch. */
  def lmScoreStream(docs: DataFrame, model: => DataFrame)
                   (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.LmQuality.scoreAgainstModel(batch.toDF(), model), batchId)
      }
      .start()

  /** Ingest-gate face of the minseg tokenizer: arriving (doc_id, text)
    * docs are encoded under the STATIC materialized per-word DP table
    * (by-name — a re-ensured table after a corpus version bump is
    * visible next micro-batch). Per batch this is the encodeOver join:
    * explode words, join the table, one aggregate; unseen words
    * contribute nothing by design. StreamingSpec pins stream-total ==
    * `tok_minseg_indexed`. */
  def minsegEncodeStream(docs: DataFrame, enc: => DataFrame)
                        (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Unigram.encodeOver(batch.toDF(), enc), batchId)
      }
      .start()

  /** Ingest-gate face of the epoch-cap mixture: arriving (doc_id, source)
    * rows are scheduled under the STATIC water-filled plan (by-name, so a
    * re-planned mix is visible next micro-batch) — each doc leaves with
    * its deterministic repetition count. Map-only per batch: the
    * #sources-sized plan broadcasts, the hash coin is row-local.
    * StreamingSpec pins stream-total == `mix_epoch_apply` on the same
    * docs. */
  def epochScheduleStream(docs: DataFrame, plan: => DataFrame)
                         (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Pipeline.epochScheduleOver(batch.toDF(), plan), batchId)
      }
      .start()

  // ------------------------------------------------- streaming CDC apply

  case class Change(key: Long, version: Long, price: Double, op: String)
  case class SnapRow(key: Long, version: Long, price: Double, deleted: Boolean)

  /** Streaming face of Cdc.mergeUpsert: a change feed (upserts + delete
    * markers, possibly out of order) folds into per-key latest-wins state
    * via mapGroupsWithState; each batch emits the key's current snapshot
    * row. Higher version wins; at equal versions a delete beats an upsert
    * (the batch merge's `op <> 'D'` filter expressed as a tie rule). State
    * is ONE row per live key — the same bound a MERGE INTO target holds —
    * and a late lower-version change never regresses the snapshot. */
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

  // ------------------------------------------------ custom sessionization

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Int, sum: Double)
  case class SessionOut(user_id: Long, session_start: Long, n_events: Int,
                        sum_value: Double)

  val SessionGapMs: Long = 10 * 60 * 1000L

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * engine's `mapGroupsWithState` surface. Semantics match
    * `session_window` with a 10-minute gap (boundary-touching rows merge):
    * a session closes when event time passes lastTs + gap (emitted on the
    * next batch for that key) or the group's event-time timeout fires.
    *
    * State per key is ONE open session (constant memory per user at any
    * scale); the watermark bounds how long idle state lives.
    */
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
            Iterator(SessionOut(userId, s.start / 1000, s.n, s.sum))
          } else {
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t <= s.lastTs + SessionGapMs =>
                  cur = Some(s.copy(lastTs = math.max(s.lastTs, t), n = s.n + 1,
                    sum = s.sum + e.value))
                case Some(s) =>
                  closed += SessionOut(userId, s.start / 1000, s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + SessionGapMs)
            }
            closed.iterator
          }
      }
  }

  /** Force-close all open sessions (batch-mode tail flush for tests /
    * end-of-stream): run sessionize then append whatever state would
    * eventually time out. Batch runs of flatMapGroupsWithState never time
    * out, so tests compare sessionize-output + this tail to the batch
    * session_window result. */
  def sessionizeBatch(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // In batch mode every group sees ALL its rows in one call, so open
    // sessions are exactly the last session per user — emit them directly
    // by re-running the same fold and keeping the tail.
    events.groupByKey(_.user_id).flatMapGroups { (userId, rows) =>
      var cur: Option[SessionState] = None
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t <= s.lastTs + SessionGapMs =>
            cur = Some(s.copy(lastTs = math.max(s.lastTs, t), n = s.n + 1,
              sum = s.sum + e.value))
          case Some(s) =>
            out += SessionOut(userId, s.start / 1000, s.n, s.sum)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach(s => out += SessionOut(userId, s.start / 1000, s.n, s.sum))
      out.iterator
    }
  }
}
