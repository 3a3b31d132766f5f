package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The engine's streaming ingest: [[ingestCadenceStream]] runs the whole
  * per-batch ingest cadence (raw corpus file, row-local labels, exact and
  * near-dup screens, band and window-posting admits) as a `foreachBatch`
  * sink over a stream of arriving documents, with a content-derived
  * idempotence tag per micro-batch ([[cadenceBatchTag]]) so an
  * at-least-once redelivery converges to one copy. Every batch operator
  * core (`…Over`) is exact per micro-batch on its own; StreamingSpec
  * shows how to run one under `foreachBatch`.
  */
object StreamOps {

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

  /** The ENTIRE per-batch ingest cadence as a streaming sink — the
    * composition of the ingest screens with the cadence's artifact appends:
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
}
