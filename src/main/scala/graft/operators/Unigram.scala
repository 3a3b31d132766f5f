package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import graft.oracle.OracleSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal-segmentation tokenizer over a frequency-cut substring
  * vocabulary — the second tokenizer family next to the merge-trained BPE
  * ([[BpeTrainer]]).
  *
  * The vocabulary is every ≤ [[MaxPieceLen]]-char substring of the corpus
  * words whose corpus occurrence count clears [[MinCount]] (single chars
  * always kept, so every word segments). Encoding solves, per DISTINCT
  * word, the segmentation DP that unigram-LM tokenizers use at inference:
  * primary objective FEWEST pieces, secondary objective MAXIMUM total
  * piece frequency — exact integer objectives standing in for EM-fitted
  * log-probabilities (the arithmetic-for-geometric surrogate documented
  * at lm_score / dsir_weights: cross-engine bit-parity beats libm logs).
  *
  * Scale shape: the DP runs over the DISTINCT-WORD relation (vocabulary-
  * sized, NOT corpus-sized), and since round 15 it is PER-WORD-LOCAL: the
  * scored cuts of one word collect into an array column and the DP is a
  * whole-stage-codegen `aggregate` fold over positions — one shuffle
  * (the collect_list groupBy), versus the previous KCap chained
  * join+aggregate layers (~26 exchanges and a per-layer re-expansion of
  * the scored-cuts subtree). Per-row state is len+1 structs, bounded by
  * the longest word, so executor memory is independent of corpus size.
  * Encoding the corpus is then the bpeEncode shape: explode doc words,
  * join the per-word result, one aggregate. */
object Unigram {

  /** Longest candidate piece. */
  val MaxPieceLen = 6
  /** Vocabulary cut: substrings below this corpus count are dropped
    * (single chars exempt). */
  val MinCount = 3L
  /** Max piece count the DP searches. A word with no ≤ KCap-piece
    * segmentation (rare: > KCap chars AND no multi-char vocabulary hits)
    * falls back to its character segmentation — deterministic on both
    * engines. */
  val KCap = 12
  /** Vocabulary rows dumped by the gate query. */
  val VocabTopV = 64

  private def wordCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** (word, i, j, piece): every candidate cut of every distinct word —
    * piece = chars (i, j], j − i ≤ MaxPieceLen. */
  private def cuts(words: DataFrame): DataFrame =
    words.select(col("word"))
      .select(col("word"),
        explode(sequence(lit(0L), length(col("word")).cast("long") - 1L)).as("i"))
      .select(col("word"), col("i"),
        explode(sequence(col("i") + 1L,
          least(col("i") + MaxPieceLen.toLong, length(col("word")).cast("long")))).as("j"))
      .withColumn("piece",
        expr("substring(word, cast(i + 1 as int), cast(j - i as int))"))

  /** (piece, c): corpus occurrence counts (positions × word counts) after
    * the MinCount cut; single chars always kept. */
  private[graft] def vocabOf(spark: SparkSession, dir: String): DataFrame =
    vocabOver(wordCounts(spark, dir))

  private def vocabOver(words: DataFrame): DataFrame =
    cuts(words).join(words, "word")
      .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
      .filter(col("c") >= MinCount || length(col("piece")) === 1)

  /** The gate row: top-[[VocabTopV]] vocabulary by (count desc, piece).
    * The cut is `orderBy.limit` (TakeOrderedAndProject — per-partition
    * top-V then a V-row driver merge), NOT a global window over the whole
    * substring-vocabulary relation: that relation is every distinct
    * ≤[[MaxPieceLen]]-char substring clearing MinCount, millions of rows
    * at 100× corpus, and an unpartitioned `row_number` would funnel all
    * of them through one task. Only the ≤[[VocabTopV]] survivors are
    * numbered (the mixInterleave post-limit precedent,
    * Pipeline.scala:89-91). PlanShapeSpec pins the TakeOrderedAndProject
    * shape. */
  def vocabTopV(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("piece"))
    vocabOf(spark, dir)
      .orderBy(col("c").desc, col("piece"))
      .limit(VocabTopV)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("piece"), col("c"))
      .orderBy(col("rank"))
  }

  /** Per-word DP result (word, n_pieces, score): fewest pieces to cover
    * the word with vocabulary pieces, ties by max total frequency;
    * all-singles fallback for words the KCap-layer search cannot cover.
    *
    * Layer state (word, len, j, v, kd): best exactly-k-piece total
    * frequency v reaching position j; kd = the layer the word first
    * reached len (frozen — settled rows no longer match the join, so
    * each layer consumes the previous exactly once). Unsettled rows with
    * no extension drop out of the fold. */
  private[graft] def encodeTable(spark: SparkSession, dir: String): DataFrame = {
    // r15 optimization: the DP is PER-WORD-LOCAL — the KCap-layer
    // join+aggregate fold (12 shuffled joins + 12 hash aggregates, and a
    // lazy plan that re-expanded the scored-cuts subtree per layer: 360
    // Exchange references in the formatted plan) is replaced by ONE
    // collect_list per word and a whole-stage-codegen array fold
    // (`aggregate`/`transform`/`filter` built-ins — no UDF). Equivalence
    // is the classic unit-edge shortest-path argument, already pinned by
    // OperatorParitySpec's brute-force twin: every minimal-piece path has
    // position-wise minimal-piece prefixes (a non-minimal prefix would
    // shorten the whole path), so the layered exactly-k state and the
    // per-position lexicographic (min pieces, then max score) state agree
    // at the word boundary; the oracle keeps the layered CTE spelling and
    // gates the parity. The shuffle debt drops from ~26 exchanges to 4,
    // and the fold's state (len+1 structs per DISTINCT word) is
    // vocabulary-sized, never corpus-sized.
    // cut, not share (r16; r15 persisted): same exactly-once materialization
    // for the two consumers (vocab, cuts), but the localCheckpoint RDD is
    // ContextCleaner-collected when the plan is dropped — the r15 persist
    // was never unpersisted, pinning the cached word counts for the
    // session's lifetime in a serving JVM (r15 advice item). The relation
    // is vocabulary-sized either way.
    val words = graft.Lineage.cut(wordCounts(spark, dir))
    val vocab = vocabOver(words)
    val pieces = cuts(words).join(vocab, "piece")
      .select(col("word"), col("i"), col("j"), col("c"))
    val perWord = pieces.groupBy(col("word"))
      .agg(collect_list(struct(col("i"), col("j"), col("c"))).as("ps"))
      .withColumn("len", length(col("word")).cast("long"))

    // best (k = fewest pieces, v = max total frequency among k-piece
    // segmentations) covering chars (0, j], as a 1-based DP array fold;
    // min(struct(k, -v)) is the lexicographic objective, matching the
    // layered settle()'s min(struct(kd, -v)).
    // try_element_at, not element_at (r16 — r15 advice item): a piece with
    // p.j > current j can have p.i beyond the current acc length, and the
    // composed predicate only stayed in bounds through &&'s evaluation
    // order; try_element_at returns null out of bounds under ANSI instead
    // of throwing, so correctness no longer depends on conjunct order.
    def ent(acc: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      try_element_at(acc, (i + 1L).cast("int"))
    val best = aggregate(
      sequence(lit(1L), col("len")),
      array(struct(lit(0L).as("k"), lit(0L).as("v"))),
      (acc, j) => {
        val cand = filter(col("ps"), p =>
          p.getField("j") === j && ent(acc, p.getField("i")).isNotNull)
        val m = array_min(transform(cand, p => struct(
          (ent(acc, p.getField("i")).getField("k") + 1L).as("k"),
          (-(ent(acc, p.getField("i")).getField("v") + p.getField("c"))).as("negv"))))
        concat(acc, array(when(m.isNotNull,
          struct(m.getField("k").as("k"), (-m.getField("negv")).as("v")))))
      },
      acc => ent(acc, col("len")))
    // all-singles fallback (single chars are always vocabulary members, so
    // the sum ranges over exactly `len` pieces — the layered fold's
    // left-anti fallback row)
    val singlesScore = aggregate(
      filter(col("ps"), p => p.getField("j") === p.getField("i") + 1L),
      lit(0L), (s, p) => s + p.getField("c"))
    perWord
      .withColumn("best", best)
      .select(col("word"), col("len"), col("ps"),
        (col("best").isNotNull && col("best.k") <= KCap.toLong).as("ok"),
        col("best.k").as("bk"), col("best.v").as("bv"))
      .select(col("word"),
        when(col("ok"), col("bk")).otherwise(col("len")).as("n_pieces"),
        when(col("ok"), col("bv")).otherwise(singlesScore).as("score"))
  }

  /** The encode join both batch faces share: explode words, join the
    * per-word result, one aggregate. Words absent from the table (an
    * unseen arriving word) contribute nothing — a re-read of the artifact
    * after a corpus version bump refreshes the segmentation. */
  private[graft] def encodeOver(docs: DataFrame, enc: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(lower(col("text")))).as("word"))
      .join(enc, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_pieces")).as("n_pieces"), sum(col("score")).as("score"))
      .orderBy(col("doc_id"))

  /** The corpus encode under the segmentation: per-doc piece count and
    * total piece frequency (both exact integers) — directly comparable
    * with tok_bpe_encode's n_pieces. */
  def encode(spark: SparkSession, dir: String): DataFrame =
    encodeOver(Tables.documents(spark, dir), encodeTable(spark, dir))

  // ------------------------------------------------ per-word table artifact

  val MinsegVersion = 1

  /** Write-once per-word segmentation table (word, n_pieces, score) — the
    * tokenizer's serving artifact: an encode pass joins it instead of
    * re-running the DP. Deliberately NO append face: the vocabulary
    * counts are corpus-global and the DP is nonlinear in them, so an
    * ingest increment shifts existing words' results — append ≠ rebuild
    * (the ensureDocGlobal precedent; a new corpus version re-ensures under
    * a bumped version). */
  def ensureMinsegEnc(spark: SparkSession, dir: String,
                      version: Int = MinsegVersion): String =
    graft.Materialize.ensure(spark, "graft_minseg", dir, version) { p =>
      encodeTable(spark, dir).write.mode("overwrite").parquet(p)
    }

  /** The encode SERVED from the materialized per-word table — one
    * documents scan + one artifact join; the DP never re-runs per encode
    * pass (PlanShapeSpec pins the two-scan plan). Shares encodeOracle. */
  def encodeIndexed(spark: SparkSession, dir: String): DataFrame =
    encodeOver(Tables.documents(spark, dir),
      Tables.parquet(spark, ensureMinsegEnc(spark, dir)))

  // ------------------------------------------------------------- oracle

  /** Shared CTE chain: wc, cuts e, vocab v, scored cuts ee, word lengths
    * wl, DP layers d1..dKCap (MATERIALIZED — each is referenced by the
    * next layer AND the final pick; DuckDB's default inlining would go
    * exponential), the min-k pick, and the all-singles fallback. */
  private def encodeCtes: String = {
    val toks = OracleSql.tokens("lower(text)")
    val layers = (2 to KCap).map { k =>
      val p = k - 1
      s"""d$k AS MATERIALIZED (SELECT e.word, e.j, max(d.v + e.c) AS v
         |        FROM d$p d JOIN ee e ON e.word = d.word AND e.i = d.j
         |        GROUP BY e.word, e.j)""".stripMargin
    }.mkString(",\n")
    val finUnion = (1 to KCap).map { k =>
      s"SELECT d.word, $k::BIGINT AS k, d.v FROM d$k d JOIN wl USING (word) WHERE d.j = wl.len"
    }.mkString("\n UNION ALL ")
    s"""t AS MATERIALIZED (SELECT unnest($toks) AS word FROM documents),
       |wc AS MATERIALIZED (SELECT word, count(*)::BIGINT AS cnt FROM t GROUP BY word),
       |e AS MATERIALIZED (SELECT word, i, unnest(range(i + 1, least(i + $MaxPieceLen, length(word)) + 1)) AS j
       |      FROM (SELECT word, unnest(range(0, length(word))) AS i FROM wc)),
       |ep AS MATERIALIZED (SELECT word, i, j,
       |        substring(word, (i + 1)::INT, (j - i)::INT) AS piece FROM e),
       |v AS MATERIALIZED (SELECT piece, sum(cnt)::BIGINT AS c
       |      FROM ep JOIN wc USING (word) GROUP BY piece
       |      HAVING sum(cnt) >= $MinCount OR length(piece) = 1),
       |ee AS MATERIALIZED (SELECT ep.word, ep.i, ep.j, v.c
       |      FROM ep JOIN v USING (piece)),
       |wl AS MATERIALIZED (SELECT word, length(word)::BIGINT AS len FROM wc),
       |d1 AS MATERIALIZED (SELECT word, j, max(c) AS v FROM ee WHERE i = 0
       |        GROUP BY word, j),
       |$layers,
       |fin AS MATERIALIZED (
       |  SELECT word, k AS n_pieces, v AS score FROM (
       |    SELECT word, k, v,
       |           row_number() OVER (PARTITION BY word ORDER BY k, v DESC) AS rn
       |    FROM ($finUnion)) WHERE rn = 1),
       |fb AS (SELECT ep.word, count(*)::BIGINT AS n_pieces, sum(v.c)::BIGINT AS score
       |       FROM ep JOIN v USING (piece)
       |       WHERE ep.j = ep.i + 1
       |         AND NOT EXISTS (SELECT 1 FROM fin f WHERE f.word = ep.word)
       |       GROUP BY ep.word),
       |enc AS (SELECT * FROM fin UNION ALL SELECT * FROM fb)""".stripMargin
  }

  def vocabTopVOracle: String = {
    val toks = OracleSql.tokens("lower(text)")
    s"""WITH t AS MATERIALIZED (SELECT unnest($toks) AS word FROM documents),
       |wc AS MATERIALIZED (SELECT word, count(*)::BIGINT AS cnt FROM t GROUP BY word),
       |e AS (SELECT word, i, unnest(range(i + 1, least(i + $MaxPieceLen, length(word)) + 1)) AS j
       |      FROM (SELECT word, unnest(range(0, length(word))) AS i FROM wc)),
       |ep AS (SELECT word, substring(word, (i + 1)::INT, (j - i)::INT) AS piece FROM e),
       |v AS (SELECT piece, sum(cnt)::BIGINT AS c
       |      FROM ep JOIN wc USING (word) GROUP BY piece
       |      HAVING sum(cnt) >= $MinCount OR length(piece) = 1)
       |SELECT rank, piece, c FROM (
       |  SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece)::BIGINT AS rank
       |  FROM v)
       |WHERE rank <= $VocabTopV ORDER BY rank""".stripMargin
  }

  def encodeOracle: String = {
    val toks = OracleSql.tokens("lower(text)")
    s"""WITH $encodeCtes,
       |d AS (SELECT doc_id, unnest($toks) AS word FROM documents)
       |SELECT d.doc_id, sum(enc.n_pieces)::BIGINT AS n_pieces,
       |       sum(enc.score)::BIGINT AS score
       |FROM d JOIN enc USING (word)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }
}
