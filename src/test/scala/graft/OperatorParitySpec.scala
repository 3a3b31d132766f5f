package graft

import graft.operators.{Dedup, FuzzySearch, Similarity}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Cross-spelling parity: operators that exist in two physical shapes
  * (inline vs materialized-index fuzzy search, one-pass vs transitive
  * dedup canonicalization, full-scan vs pruned-read IVF) must agree —
  * the alternates exist for SCALE, not different semantics. */
class OperatorParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  import OperatorParitySpec._

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .appName("operator-parity-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("fuzzySearchIndexed (materialized postings) == fuzzySearch (inline)") {
    val inline = FuzzySearch.fuzzySearch(spark, dir, "smal widget", 20).collect()
    val indexed = FuzzySearch.fuzzySearchIndexed(spark, dir, "smal widget", 20).collect()
    assert(indexed.toSeq == inline.toSeq)
    assert(inline.nonEmpty)
  }

  test("partitioned fuzzy: Some restricts to named partitions; unknown yields empty") {
    import org.apache.spark.sql.functions.col
    // reference semantics (geo_manager.py:546-547): a partition not in
    // self.partitions returns [] — and a named-partition search must equal
    // the all-partitions plan's slice for that partition (same cap/dedup/
    // top-k inside one partition either way)
    val all = FuzzySearch.fuzzySearchPartitioned(spark, dir, "10750", 15)
    val allRows = all.collect()
    assert(allRows.nonEmpty)
    val p0 = allRows.head.getAs[String]("partition")
    val one = FuzzySearch.fuzzySearchPartitioned(spark, dir, "10750", 15,
      partitions = Some(Seq(p0))).collect()
    assert(one.toSeq == allRows.filter(_.getAs[String]("partition") == p0).toSeq)
    assert(one.nonEmpty)
    assert(FuzzySearch.fuzzySearchPartitioned(spark, dir, "10750", 15,
      partitions = Some(Seq("ZZ"))).count() == 0)
  }

  test("indexed candidate generation pushes the ngram set into the scan") {
    // the plans the request executes: the face runs its hits and records
    // jobs while it is called and returns a local relation
    val plans = PlanAudit.executed(spark)(
      FuzzySearch.fuzzySearchIndexed(spark, dir, "smal widget", 20).collect())._2
      .map(_.executedPlan.toString)
    val scans = plans.flatMap(_.split("\n")).filter(_.contains("PushedFilters"))
    assert(scans.exists(_.contains("In(ngram")),
      s"expected In(ngram,...) pushed to the postings scan:\n${plans.mkString("\n")}")
    assert(scans.exists(_.contains("In(p_partkey")),
      s"expected the records fetched by a pushed id filter:\n${plans.mkString("\n")}")
  }

  test("stop-gram cut bites: hot grams exist, results differ from the uncut batch") {
    import org.apache.spark.sql.functions._
    val c = FuzzySearch.corpus(spark, dir)
    val n = c.count()
    val hot = c.select(explode(
        graft.functions.TextFunctions.charNgrams(col("clean_value"), 3)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
      .filter(col("df") * 10L > n).count()
    assert(hot > 0, "no gram clears df > N/10 — the opt-in gate row would be vacuous")
    val cut = FuzzySearch.batchFuzzySearchStopGram(spark, dir, 20, 10L).collect()
    val uncut = FuzzySearch.batchFuzzySearch(spark, dir, 20).collect()
    assert(cut.nonEmpty)
    // the cut is a semantic change by design, never a silent default
    assert(cut.toSeq != uncut.toSeq)
  }

  test("batchCandidateCost predicts the candidate join's EXACT output row count") {
    import org.apache.spark.sql.functions._
    val c = FuzzySearch.corpus(spark, dir)
    val postings = graft.operators.NgramIndex.postingPairsMulti(c)
    val qGrams = FuzzySearch.batchQueries(c).select(col("qid"),
      explode(graft.functions.TextFunctions.charNgramSet(col("clean_q"), 3)).as("ngram"))
    val actual = postings.join(qGrams, "ngram").count()
    val predicted = FuzzySearch.batchCandidateCost(spark, dir)
      .collect().head.getLong(0)
    assert(predicted > 0 && predicted == actual,
      s"predicted $predicted != actual join output $actual")
  }

  test("fuzzy_batch_auto dispatches on the predicted candidate volume — both branches") {
    // Both sides of the threshold on the SAME corpus by moving the budget
    // across the real prediction: each branch must equal its direct
    // operator, and the two branches must differ (the dispatch is not
    // vacuous).
    val pred = FuzzySearch.batchCandidateCost(spark, dir)
      .collect().head.getLong(0)
    assert(pred > 0)
    val uncut = FuzzySearch.batchFuzzySearchAuto(spark, dir, 20, 10L, budget = pred)
      .collect()
    val cut = FuzzySearch.batchFuzzySearchAuto(spark, dir, 20, 10L, budget = pred - 1)
      .collect()
    assert(uncut.toSeq ==
      FuzzySearch.batchFuzzySearchIndexed(spark, dir, 20).collect().toSeq)
    assert(cut.toSeq ==
      FuzzySearch.batchFuzzySearchStopGramIndexed(spark, dir, 20, 10L).collect().toSeq)
    assert(uncut.nonEmpty && uncut.toSeq != cut.toSeq)
  }

  test("tier-3 auto sizes the champion cap from the budget — and honors an explicit cap") {
    import spark.implicits._
    // sf0.001's allowed grams all carry df below the cap floor, so the
    // ladder is degenerate there; craft a corpus whose hot-but-allowed
    // grams (df ≈ 153: under the df·10 <= n = 2000 stop cut, between
    // ladder caps 128 and 256) make the per-cap costs genuinely distinct
    // — and include one stride query (id 1157 = 89·13) that carries them
    val tmp = java.nio.file.Files
      .createTempDirectory("fuzzy_cap_ladder").toFile.getAbsolutePath
    (1 to 2000).map { i =>
      val name = if (i % 13 == 0) s"zebra stripe item$i" else s"item$i plain part"
      (i.toLong, name)
    }.toDF("p_partkey", "p_name").write.parquet(s"$tmp/part.parquet")
    val costs = FuzzySearch.batchChampCandidateCosts(spark, tmp, 10L).head()
    val lsh = FuzzySearch.lshChannelCosts(spark, tmp).head()
    val c64 = costs.getAs[Long]("cost_64")
    val c512 = costs.getAs[Long]("cost_512")
    val rare = costs.getAs[Long]("rare")
    assert(c64 > 0 && c512 > c64,
      s"crafted corpus must have truncation-sensitive grams (64: $c64, 512: $c512)")
    assert(rare > 0, "rare-side volume must be visible on the crafted corpus")
    assert(lsh.getAs[Long](s"lsh_${FuzzySearch.FuzzyLshMaxBands}") > 0,
      "LSH bucket volume must be visible on the crafted corpus")
    // independently walk the operator's ladder with its own published
    // cost decomposition, then pin the sizing to it at a budget that
    // excludes the all-on point (so the pick is not vacuous)
    def vol(p: (Int, Int, Int)): Long = {
      val (bands, rr, cp) = p
      (if (bands > 0) lsh.getAs[Long](s"lsh_$bands") else 0L) +
        (if (rr > 0) rare - costs.getAs[Long](s"rarecut_$cp") else 0L) +
        costs.getAs[Long](s"cost_$cp")
    }
    val mid = vol(FuzzySearch.ChampPlanLadder.head) - 1
    val expected = FuzzySearch.ChampPlanLadder.find(p => vol(p) <= mid)
      .getOrElse(FuzzySearch.ChampPlanLadder.last)
    assert(expected != FuzzySearch.ChampPlanLadder.head,
      "mid budget must exclude the all-on point or the pick is vacuous")
    assert(FuzzySearch.champPlanFor(spark, tmp, 10L, mid) == expected)
    assert(FuzzySearch.champPlanFor(spark, tmp, 10L, 0L) ==
      (0, 0, FuzzySearch.ChampPostingCap),
      "budget 0 must floor every knob")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    // sized dispatch at the mid budget == the direct champion read at the
    // sized plan (and != the floor read: the sizing is observable)
    assert(rows(FuzzySearch.batchFuzzySearchAuto(spark, tmp, 20, 10L,
        budget = mid, postingCap = 0)) ==
      rows(FuzzySearch.batchFuzzySearchChampIndexed(spark, tmp, 20, 10L,
        expected._3, rareGrams = expected._2, lshBands = expected._1)),
      "sized dispatch must serve the plan its own estimator picked")
    assert(rows(FuzzySearch.batchFuzzySearchAuto(spark, tmp, 20, 10L,
        budget = 0L, postingCap = 512)) ==
      rows(FuzzySearch.batchFuzzySearchChampIndexed(spark, tmp, 20, 10L, 512)),
      "an explicit postingCap must bypass the sizing")
  }

  test("a degenerate low-entropy corpus selects the stop-gram cut at the DEFAULT budget") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Near-identical rows: every query gram is near-corpus-hot, so the
    // uncut candidate join would emit ~ (N/10)·N·|grams| rows — the sf1
    // cliff in miniature. With N = 8000 the prediction must clear the 8M
    // default budget and the auto entry must pick the served cut.
    val tmp = java.nio.file.Files.createTempDirectory("fuzzy_auto_hot").toFile.getAbsolutePath
    val n = 8000
    (1 to n).map(i => (i.toLong, s"common product name ${i % 3}"))
      .toDF("p_partkey", "p_name").write.parquet(s"$tmp/part.parquet")
    val pred = FuzzySearch.batchCandidateCost(spark, tmp)
      .collect().head.getLong(0)
    assert(pred > FuzzySearch.CandidateBudget,
      s"crafted corpus predicts only $pred candidate rows — not degenerate")
    val auto = FuzzySearch.batchFuzzySearchAuto(spark, tmp, 20, 10L).collect()
    val served = FuzzySearch.batchFuzzySearchStopGramIndexed(spark, tmp, 20, 10L)
      .collect()
    assert(auto.toSeq == served.toSeq,
      "auto entry must select the stop-gram cut on the degenerate corpus")
  }

  test("batchFuzzySearchStopGramIndexed (artifact-served cut) == inline stop-gram batch") {
    val inline = FuzzySearch.batchFuzzySearchStopGram(spark, dir, 20, 10L).collect()
    val served = FuzzySearch.batchFuzzySearchStopGramIndexed(spark, dir, 20, 10L).collect()
    assert(served.nonEmpty && served.toSeq == inline.toSeq)
  }

  test("rpTopKIndexed (materialized projection) == rpTopK (inline)") {
    val inline = Similarity.rpTopK(spark, dir, 0L, 10).collect()
    val indexed = Similarity.rpTopKIndexed(spark, dir, 0L, 10).collect()
    assert(indexed.toSeq == inline.toSeq)
    assert(inline.nonEmpty)
  }

  test("transitive canonicalization is a fixpoint and only lowers labels") {
    val once = Dedup.dedupPipeline(spark, dir)
      .select("doc_id", "canonical_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trans = Dedup.dedupPipelineTransitive(spark, dir)
      .select("doc_id", "canonical_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(trans.keySet == once.keySet)
    // Pointer jumping can only move a label down (toward the root).
    trans.foreach { case (d, c) => assert(c <= once(d), s"doc $d: $c > ${once(d)}") }
    // Fixpoint: every canonical target is its own canonical (no chains
    // survive 3 jumps = collapse depth 8).
    trans.values.toSet.foreach { c: Long => assert(trans(c) == c, s"chain survives at $c") }
  }

  test("SimHashFingerprint kernel == composed HOF form, bit for bit") {
    val kernel = Dedup.simhashSigs(spark, dir).orderBy("doc_id").collect()
    val composed = simhashSigsComposed(spark, dir).orderBy("doc_id").collect()
    assert(kernel.toSeq == composed.toSeq)
    assert(kernel.nonEmpty)
  }

  test("NULL document text yields NULL simhash in kernel AND composed forms") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("simhash_null").toFile.getAbsolutePath
    Seq((1L, null.asInstanceOf[String]), (2L, "hello world"), (3L, ""))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val kernel = Dedup.simhashSigs(spark, tmp).orderBy("doc_id").collect()
    val composed = simhashSigsComposed(spark, tmp).orderBy("doc_id").collect()
    assert(kernel.toSeq == composed.toSeq)
    assert(kernel(0).isNullAt(1), "NULL text must give NULL fingerprint")
    assert(!kernel(1).isNullAt(1))
    // Empty string: zero tokens → all per-bit sums 0 → every bit set.
    assert(kernel(2).getLong(1) == (1L << 48) - 1)
  }

  test("IVF-served hybrid dense pool overlaps the brute pool at the measured IVF recall") {
    import graft.operators.Retrieval
    import org.apache.spark.sql.functions.col
    val n = Retrieval.RrfPoolN
    val brute = Similarity.cosineTopK(spark, dir, probeId = 0L, n)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val ivf = Retrieval.hybridRrfIvf(spark, dir, Seq("spark"), probeId = 0L,
        k = 1000, nprobe = SparkEntry.P.HybridNprobe)
      .filter(col("dense_rank").isNotNull)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ivf.size == n, s"dense pool size ${ivf.size} != $n")
    val overlap = (ivf & brute).size.toDouble / n
    // Measured floor (deterministic on the sf0.001 tables): 0.84 at N=50,
    // nprobe=12/16 cells, PQ m8/k16, 4N coarse candidates re-ranked by
    // exact cosine (round 5 measured 0.56 at nprobe=4 with NO widening —
    // the deficit was coarse-pool truncation plus the cell-coverage
    // ceiling of near-isotropic unit-norm synthetic vectors, NOT a PQ
    // metric mismatch; see hybridRrfIvf's postmortem note). The pin
    // guards a pool collapse (wrong cells / broken codes / lost
    // widening), not the residual cell-coverage trade.
    assert(overlap >= 0.80,
      s"pool overlap $overlap below the measured 0.84 floor")
  }

  test("containment catches the quote-inclusion pair Jaccard misses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size}
    import graft.functions.TextFunctions.charNgramSet
    // id 1 is a strict prefix of id 2: every trigram window of 1 is a
    // window of 2, so C(1,2)=1.0 while J(1,2)=|A|/|B| sits far below the
    // jaccard gate's 0.55. id 3 shares nothing.
    val c = Seq((1L, "main street"),
        (2L, "main street north building complex"),
        (3L, "zzz qqq xyxy"))
      .toDF("id", "clean_value")
      .select(col("id"), charNgramSet(col("clean_value"), 3).as("grams"))
      .filter(size(col("grams")) > 0)
    val pairs = Dedup.containmentPairsOver(c, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)), pairs.toSeq.toString)
    // the same pair under symmetric Jaccard: below any sane threshold
    val grams = c.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val j = grams(1L).intersect(grams(2L)).size.toDouble /
      grams(1L).union(grams(2L)).size
    assert(j < 0.55, s"jaccard $j should miss the inclusion pair")
  }

  test("champion index: K=infinity reproduces stop-gram output; the gate K bites") {
    import graft.operators.FuzzySearch
    val inv = SparkEntry.P.StopGramInv
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // a posting cap no gram reaches must leave the stop-gram semantics
    // bit-identical (truncation only ever removes posting rows)
    val untruncated = rows(FuzzySearch.batchFuzzySearchChampIndexed(
      spark, dir, SparkEntry.P.FuzzyK, inv, postingCap = Int.MaxValue,
      lshBands = 0))
    val stopgram = rows(FuzzySearch.batchFuzzySearchStopGramIndexed(
      spark, dir, SparkEntry.P.FuzzyK, inv))
    assert(untruncated == stopgram,
      "champion index with no truncation diverges from the stop-gram cut")
    // and the shipped K must actually truncate at the GATE corpus —
    // sf0.01, where 12 of the 30 allowed grams carry df > 64 (sf0.001's
    // ~150-part corpus never reaches the cap). Resolved as a sibling of
    // the primary test dir and skipped (not failed) where that SF was
    // never generated — the bite claim is about the gate corpus, and a
    // box without it can only report "untestable here", not "broken".
    val d01 = dir.replace("sf0.001", "sf0.01")
    assume(new java.io.File(d01).isDirectory, s"gate corpus $d01 absent")
    // the cap's bite is a property of the champion LISTS, so pin it with
    // the rare-gram floor off…
    val champPure = rows(FuzzySearch.batchFuzzySearchChampIndexed(
      spark, d01, SparkEntry.P.FuzzyK, inv, rareGrams = 0, lshBands = 0))
    val stopgram01 = rows(FuzzySearch.batchFuzzySearchStopGramIndexed(
      spark, d01, SparkEntry.P.FuzzyK, inv))
    assert(champPure != stopgram01, "gate posting cap is vacuous at sf0.01")
    // …and the floor's purpose is to win that loss back: the default
    // rare-union result must overlap the stop-gram results at least as
    // much as the pure truncation does (at sf0.01 it recovers ALL of it,
    // but pin the monotone claim, not the corpus coincidence)
    val champRare = rows(FuzzySearch.batchFuzzySearchChampIndexed(
      spark, d01, SparkEntry.P.FuzzyK, inv, lshBands = 0))
    val stopRows = stopgram01.toSet
    assert(champRare.toSet.intersect(stopRows).size >
      champPure.toSet.intersect(stopRows).size,
      "the rare-gram floor must recover truncation-dropped results at the gate corpus")
  }

  test("fuzzy auto dispatch selects each of the three tiers by budget") {
    import graft.operators.FuzzySearch
    val inv = SparkEntry.P.StopGramInv
    val k = SparkEntry.P.FuzzyK
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val uncutPred = FuzzySearch.batchCandidateCost(spark, dir).head().getLong(0)
    val stopPred = FuzzySearch.batchStopgramCandidateCost(spark, dir, inv)
      .head().getLong(0)
    assert(stopPred < uncutPred, s"stop cut must shrink the prediction " +
      s"($stopPred vs $uncutPred) or the tier order is meaningless")
    // tier 1: budget above the uncut volume
    assert(rows(FuzzySearch.batchFuzzySearchAuto(spark, dir, k, inv,
      budget = uncutPred)) ==
      rows(FuzzySearch.batchFuzzySearchIndexed(spark, dir, k)))
    // tier 2: budget between the two predictions
    assert(rows(FuzzySearch.batchFuzzySearchAuto(spark, dir, k, inv,
      budget = (stopPred + uncutPred) / 2)) ==
      rows(FuzzySearch.batchFuzzySearchStopGramIndexed(spark, dir, k, inv)))
    // tier 3: budget below everything — floors the cap AND the rare side
    // (budget 0 admits nothing, so the served plan is the pure champion
    // truncation at the floor cap)
    assert(rows(FuzzySearch.batchFuzzySearchAuto(spark, dir, k, inv,
      budget = 0L)) ==
      rows(FuzzySearch.batchFuzzySearchChampIndexed(spark, dir, k, inv,
        rareGrams = 0, lshBands = 0)))
  }

  test("containment cost prediction equals the raw candidate join row count") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val t = SparkEntry.P.ContainThreshold
    val predicted = Dedup.containmentCandidateCost(spark, dir, t)
      .head().getLong(0)
    // independent recount: spell out the prefix rule and run the ACTUAL
    // candidate join (pre a!=b filter, pre distinct) — the prediction's
    // claim is exact row-count equality, not an estimate
    val c = Dedup.canonGrams(spark, dir)
    val e = c.select(col("id"), explode(col("grams")).as("g"))
    val dfRel = e.groupBy("g").agg(count(lit(1)).as("df"))
    val ranked = e.join(dfRel, "g")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .withColumn("setsize", count(lit(1)).over(Window.partitionBy(col("id"))))
      .withColumn("prefix_len",
        col("setsize") - ceil(lit(t) * col("setsize") - 1e-9) + 1)
    val joined = ranked.filter(col("rank") <= col("prefix_len"))
      .select(col("id").as("id_a"), col("g"))
      .join(e.select(col("id").as("id_b"), col("g")), Seq("g"))
      .count()
    assert(predicted == joined, s"predicted $predicted != join rows $joined")
    assert(predicted > 0, "cost pin is vacuous")
  }

  test("containment df-cap bites on a boilerplate-hot corpus; rare pairs survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size}
    import graft.functions.TextFunctions.charNgramSet
    // docs 1-8 share hot boilerplate grams (df 8-10 of n=10); docs 9-10
    // share only rare grams (df=2). Pair (1,2) is containment 1.0 but
    // reachable ONLY through hot grams; pair (9,10) is containment 1.0
    // through rare grams.
    val hot = "common street zone"
    val rows = Seq((1L, hot), (2L, s"$hot extra")) ++
      (3L to 8L).map(i => (i, s"$hot distinct$i")) ++
      Seq((9L, "qqqq wwww"), (10L, "qqqq wwww zzzz"))
    val c = rows.toDF("id", "clean_value")
      .select(col("id"), charNgramSet(col("clean_value"), 3).as("grams"))
      .filter(size(col("grams")) > 0)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncut = pairsOf(Dedup.containmentPairsOver(c, 0.8))
    val capped = pairsOf(containmentCappedOver(c, 0.8, dfCapInverse = 2L))
    assert(uncut.contains((1L, 2L)) && uncut.contains((9L, 10L)), uncut.toString)
    assert(!capped.contains((1L, 2L)),
      s"hot-gram pair should be cut: $capped")
    assert(capped.contains((9L, 10L)),
      s"rare-gram pair must survive the cap: $capped")
  }

  test("containment auto dispatch selects by predicted volume") {
    import org.apache.spark.sql.functions.col
    val t = SparkEntry.P.ContainThreshold
    val inv = SparkEntry.P.ContainCapInv
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // default budget: the sf0.001 prediction sits far below 8M — the
    // dispatcher must serve the EXACT uncut plan
    assert(rows(Dedup.containmentPairsAuto(spark, dir, t, inv)) ==
      rows(Dedup.containmentPairs(spark, dir, t)))
    // budget 0: any corpus over-budget — must serve the capped screen
    assert(rows(Dedup.containmentPairsAuto(spark, dir, t, inv, budget = 0L)) ==
      rows(Dedup.containmentPairsCapped(spark, dir, t, inv)))
  }

  test("winnow fingerprint df-cap drops boilerplate-only pairs, keeps rare overlap") {
    import spark.implicits._
    // docs 1-6 share a 16-token boilerplate header (its fingerprints have
    // df=6); docs 7-8 share a 16-token rare run (fp df=2). Under the cap
    // the boilerplate pairs vanish; the rare pair survives untouched.
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi"
    val rare = "unique shared run of sixteen straight tokens that only " +
      "these two documents carry verbatim here"
    val docs = (1L to 6L).map(i => (i, s"$boiler filler$i")) ++
      Seq((7L, s"$rare one two three"), (8L, s"four five six $rare"))
    val d = docs.toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncut = pairsOf(Dedup.winnowPairsOver(d))
    val capped = pairsOf(Dedup.winnowPairsCappedOver(d, dfCapInverse = 10L))
    assert(uncut.contains((7L, 8L)) && uncut.contains((1L, 2L)), uncut.toString)
    assert(capped.contains((7L, 8L)),
      s"rare-run pair must survive the cap: $capped")
    assert(!capped.exists(p => p._1 <= 6L && p._2 <= 6L),
      s"boilerplate pairs should be cut: $capped")
  }

  test("winnow cost prediction equals the raw pair join row count") {
    import org.apache.spark.sql.functions.col
    val predicted = Dedup.winnowCandidateCost(spark, dir).head().getLong(0)
    // independent recount: run the ACTUAL fp self-join (pre doc_a < doc_b
    // filter) over the same distinct selection — the prediction's claim is
    // exact row-count equality with Σ_fp df², not an estimate
    val sel = graft.operators.TextAnalysis
      .winnowSelect(Tables.documents(spark, dir))
      .select(col("doc_id"), col("fp")).distinct()
    val raw = sel.select(col("doc_id").as("doc_a"), col("fp"))
      .join(sel.select(col("doc_id").as("doc_b"), col("fp")), Seq("fp"))
      .count()
    assert(predicted == raw, s"predicted $predicted != join rows $raw")
    assert(predicted > 0, "cost pin is vacuous")
  }

  test("winnow auto dispatch selects each of the three tiers by budget") {
    val inv = SparkEntry.P.WinnowCapInv
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val uncutPred = Dedup.winnowCandidateCost(spark, dir).head().getLong(0)
    val cappedPred = Dedup.winnowCappedCandidateCost(spark, dir, inv)
      .head().getLong(0)
    assert(cappedPred <= uncutPred, s"relative cut must not GROW the " +
      s"prediction ($cappedPred vs $uncutPred)")
    // tier 1: budget at the uncut volume — EXACT pair-join semantics
    assert(rows(Dedup.winnowPairsAuto(spark, dir, inv, budget = uncutPred)) ==
      rows(Dedup.winnowPairs(spark, dir)))
    // tier 2: budget between the two predictions (strict when they
    // differ; at this corpus the relative cut may be vacuous, so allow
    // equality and drive tier 2 by exact boundary instead)
    assert(rows(Dedup.winnowPairsAuto(spark, dir, inv,
      budget = cappedPred)) == (if (cappedPred < uncutPred)
        rows(Dedup.winnowPairsCapped(spark, dir, inv))
      else rows(Dedup.winnowPairs(spark, dir))))
    // tier 3: budget below everything — the absolute truncation
    assert(rows(Dedup.winnowPairsAuto(spark, dir, inv, budget = 0L)) ==
      rows(Dedup.winnowPairsChamp(spark, dir, inv)))
  }

  test("winnow tier-2 prediction equals the capped join's raw row count") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, broadcast}
    val inv = SparkEntry.P.WinnowCapInv
    val predicted = Dedup.winnowCappedCandidateCost(spark, dir, inv)
      .head().getLong(0)
    val sel = graft.operators.TextAnalysis
      .winnowSelect(Tables.documents(spark, dir))
      .select(col("doc_id"), col("fp")).distinct()
    val fc = sel.groupBy(col("fp")).agg(count(lit(1)).as("c"))
    val okFp = fc.crossJoin(broadcast(fc.agg(sum(col("c")).as("t"))))
      .filter(col("c") >= 2 && col("c") * inv <= col("t")).select(col("fp"))
    val s = sel.join(okFp, "fp")
    val raw = s.select(col("doc_id").as("doc_a"), col("fp"))
      .join(s.select(col("doc_id").as("doc_b"), col("fp")), Seq("fp"))
      .count()
    assert(predicted == raw, s"predicted $predicted != join rows $raw")
  }

  test("absolute winnow cap bounds a uniformly cloned corpus the relative cut cannot see") {
    import spark.implicits._
    // The 100x-replica failure shape: MANY distinct base docs, each
    // cloned k times. Every fingerprint's df is k but each covers only
    // 1/(bases·perDocFps) of all selections, so the RELATIVE threshold
    // keeps them all — uniform cloning scales every df and the total
    // together, and its pair volume grows k² invisibly (the OOM the
    // probe hit). The absolute per-fp cap bounds it regardless.
    val bases = 20; val clones = 10; val inv = 10L
    val d = (for (b <- 0 until bases; j <- 0 until clones) yield {
      val txt = (0 until 16).map(i => s"b${b}t$i").mkString(" ")
      ((b * clones + j).toLong, txt)
    }).toDF("doc_id", "text")
    val rel = Dedup.winnowPairsCappedOver(d, inv).count()
    assert(rel == bases.toLong * (clones * (clones - 1) / 2),
      s"relative cut should keep every clone pair here, got $rel")
    val abs = Dedup.winnowPairsChampOver(d, inv, perFpCap = 4).count()
    assert(abs == bases.toLong * (4 * 3 / 2),
      s"absolute cap should bound pairs to the kept representatives, got $abs")
    // K beyond every df reproduces the relative tier exactly
    val inf = Dedup.winnowPairsChampOver(d, inv, perFpCap = Int.MaxValue)
      .collect().map(_.toSeq).toSeq
    val relRows = Dedup.winnowPairsCappedOver(d, inv)
      .collect().map(_.toSeq).toSeq
    assert(inf == relRows, "K=infinity diverges from the relative tier")
  }

  test("auto ncells: derived sizes match the measured policy; auto == fixed at gate scale") {
    // the derivation itself: anchor and below land on the fixed codebook
    // (degenerate parity), the replica counts land on the SCALE.md §ncells
    // measured flat-probed-rows sizes (160 at 10×, 1600 at 100×)
    assert(Similarity.autoNumCentroids(20L) == Similarity.IvfNumCentroids)
    assert(Similarity.autoNumCentroids(2000L) == Similarity.IvfNumCentroids)
    assert(Similarity.autoNumCentroids(20000L) == 160)
    assert(Similarity.autoNumCentroids(200000L) == 1600)
    // and the served auto face is bit-equal to the fixed face at the gate
    // corpus, where the derivation degenerates to the anchor
    val auto = Similarity.ivfBucketedTopKAuto(spark, dir,
      SparkEntry.P.IvfProbe, SparkEntry.P.IvfK, nprobe = SparkEntry.P.IvfNprobe)
      .collect().map(_.toSeq).toSeq
    val fixed = Similarity.ivfBucketedTopK(spark, dir,
      SparkEntry.P.IvfProbe, SparkEntry.P.IvfK, nprobe = SparkEntry.P.IvfNprobe)
      .collect().map(_.toSeq).toSeq
    assert(auto.nonEmpty && auto == fixed)
  }

  test("ivf build dispatch: exact flat through the 10x replica, two-level at 100x") {
    // predicted work is N·ncells, both known at ensure time — the gate
    // corpora and the 10× replica stay on the EXACT flat assignment (the
    // oracle-gated default), the 100× replica crosses the measured budget
    // and dispatches to the O(N·√C) build at the balanced coarse count
    def planAt(n: Long) = Similarity.ivfBuildPlan(n, Similarity.autoNumCentroids(n))
    assert(planAt(2000L).isEmpty, "anchor must build exact-flat")
    assert(planAt(20000L).isEmpty, "10x replica must build exact-flat (3.2M ops)")
    assert(planAt(200000L).contains((40, 10)),
      "100x replica (320M ops) must dispatch to the measured two-level point")
    // served consistency of the dispatched path: a forced-low budget makes
    // the gate corpus dispatch two-level, and the auto face must then be
    // bit-equal to the two-level-assigned serving face the oracle gates
    // (same artifact kind, same probe rule — no double build)
    val dispatched = Similarity.ivfBucketedTopKAuto(spark, dir,
      SparkEntry.P.IvfProbe, SparkEntry.P.IvfK,
      nprobe = SparkEntry.P.IvfNprobe, budget = 1L)
      .collect().map(_.toSeq).toSeq
    val assigned = Similarity.ivf2AssignedTopK(spark, dir,
      SparkEntry.P.IvfProbe, SparkEntry.P.IvfK, nprobe = SparkEntry.P.IvfNprobe)
      .collect().map(_.toSeq).toSeq
    assert(dispatched.nonEmpty && dispatched == assigned)
  }

  test("two-level assignment: all-groups probing reproduces the flat argmax exactly") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val fine = Similarity.centroids(e, 25L, Similarity.IvfNumCentroids)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    // nprobe1 = numCoarse probes every group, so the within-group argmax
    // ranges over the WHOLE codebook — provably the flat assignment
    val flat = cells(Similarity.cellAssignment(e, fine))
    val two = cells(Similarity.cellAssignment2(e, fine, 25L,
      coarseStride = 4L, numCoarse = 4, nprobe1 = 4))
    assert(two.nonEmpty && two == flat,
      "degenerate two-level assignment diverges from the flat argmax")
    // and the gate quantization (nprobe1=2) must actually BITE here —
    // otherwise the agreement instrument is measuring nothing
    val q = cells(Similarity.cellAssignment2(e, fine, 25L,
      coarseStride = 4L, numCoarse = 4, nprobe1 = 2))
    assert(q != flat, "gate quantization is vacuous at this corpus")
  }

  test("ladder hybrid dense pool overlaps the brute pool at the measured floor") {
    import graft.operators.Retrieval
    import org.apache.spark.sql.functions.col
    val n = Retrieval.RrfPoolN
    val brute = Similarity.cosineTopK(spark, dir, probeId = 0L, n)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val ladder = Retrieval.hybridRrfLadder(spark, dir, Seq("spark"), probeId = 0L,
        k = 1000, nprobe = SparkEntry.P.HybridNprobe,
        nprobe1 = SparkEntry.P.HybridNprobe1)
      .filter(col("dense_rank").isNotNull)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ladder.size == n, s"dense pool size ${ladder.size} != $n")
    val overlap = (ladder & brute).size.toDouble / n
    // Measured 0.82 (deterministic on the sf0.001 tables) vs the
    // exact-re-rank hybrid's 0.84: the ladder pays three stacked losses —
    // the coarse-group ceiling (nprobe1=3/4), ADC shortlist membership
    // (8-byte codes), int8 rank quantization — and the refine stage
    // recovers nearly all of it. The pin guards a pool collapse (wrong
    // cells / broken codes / lost refine), not the residual 0.02 trade.
    assert(overlap >= 0.78,
      s"ladder pool overlap $overlap below the measured 0.82 floor")
  }

  test("z-order key de-interleaves back to the quantized coordinates") {
    import graft.functions.GeoFunctions
    val rows = graft.operators.RadiusSearch.zorderKeys(spark, dir).collect()
    assert(rows.nonEmpty)
    val max = (1 << GeoFunctions.ZOrderBits) - 1
    rows.foreach { r =>
      val (lat, lng, z) = (r.getDouble(1), r.getDouble(2), r.getLong(3))
      val qlat = math.min(math.floor((lat + 90.0) / 180.0 * max).toLong, max.toLong)
      val qlng = math.min(math.floor((lng + 180.0) / 360.0 * max).toLong, max.toLong)
      var (dlat, dlng) = (0L, 0L)
      (0 until GeoFunctions.ZOrderBits).foreach { b =>
        dlat |= ((z >> (2 * b + 1)) & 1L) << b
        dlng |= ((z >> (2 * b)) & 1L) << b
      }
      assert(dlat == qlat && dlng == qlng,
        s"id=${r.getLong(0)}: z=$z decoded ($dlat,$dlng) != quantized ($qlat,$qlng)")
    }
  }

  test("bucketed join has no shuffle on either join side") {
    val plan = graft.operators.Relational.q13BucketedJoin(spark, dir)
      .queryExecution.sparkPlan
    val smj = plan.collectFirst {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, s"expected a SortMergeJoin:\n$plan")
    val shuffles = smj.get.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"bucketed join sides must not re-shuffle:\n${smj.get}")
  }

  test("ivfBucketedTopK (pruned index read) == ivfTopK (full scan)") {
    val full = Similarity.ivfTopK(spark, dir, probeId = 7L, k = 10).collect()
    val pruned = Similarity.ivfBucketedTopK(spark, dir, probeId = 7L, k = 10).collect()
    assert(pruned.toSeq == full.toSeq)
    assert(full.nonEmpty)
  }

  test("banded batch radius == per-probe radius search, probe by probe") {
    import org.apache.spark.sql.functions._
    val R = graft.operators.RadiusSearch
    val batch = R.radiusSearchBatch(spark, dir, radiusMiles = 25.0)
      .collect().groupBy(_.getLong(0))
    assert(batch.nonEmpty)
    batch.keys.toSeq.sorted.foreach { probeId =>
      // Per-probe reference path, restricted to the batch query's domain
      // (point shapes; country-exact is the batch join key).
      val single = R.radiusSearch(spark, dir, probeId, 25.0, countryExact = true)
        .filter(!col("is_aggregate")).select("id").collect().map(_.getLong(0)).toSet
      val banded = batch(probeId).map(_.getLong(1)).toSet
      assert(banded == single, s"probe $probeId: banded=$banded single=$single")
    }
  }

  test("complete banded batch radius == per-probe path over the FULL domain") {
    val R = graft.operators.RadiusSearch
    val batch = R.radiusSearchBatchAll(spark, dir, radiusMiles = 25.0)
      .collect().groupBy(_.getLong(0))
    assert(batch.nonEmpty)
    batch.keys.toSeq.sorted.foreach { probeId =>
      val single = R.radiusSearch(spark, dir, probeId, 25.0, countryExact = true)
        .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
      val banded = batch(probeId).map(r => (r.getLong(1), r.getBoolean(3))).toSet
      assert(banded == single, s"probe $probeId: banded=$banded single=$single")
    }
  }

  test("decontamination flags a non-empty train subset, never an eval doc") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.CorpusPrep.decontaminate(spark, dir).collect()
    val flagged = rows.filter(_.getBoolean(3)).map(_.getLong(0))
    assert(flagged.nonEmpty, "zero contaminated docs — the gate row proves nothing")
    assert(flagged.length < rows.length)
    assert(rows.forall(_.getLong(0) % graft.operators.CorpusPrep.EvalMod != 0))
  }

  test("PQ codes: every vector gets one code per subspace, codes come from the sample") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, dir)
    val books = Similarity.pqCodebooks(e, 25L)
    val codes = Similarity.pqEncode(e, books).collect()
    val n = e.count()
    assert(codes.length == n * Similarity.PqM)
    val sampleIds = books.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(codes.map(_.getLong(2)).toSet.subsetOf(sampleIds))
    // codebook is full-rank on this corpus: M subspaces x sample codewords
    assert(books.count() == sampleIds.size * Similarity.PqM)
  }

  test("aggregate-bbox branch of the complete batch radius bites on crafted shapes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val R = graft.operators.RadiusSearch
    // (id, lat, lng, country, is_aggregate, ll_lat, ur_lat, ll_lng, ur_lng, geo_type)
    // agg 100's 2°-tall bbox CONTAINS probe 1; agg 200's does not; point 2
    // is inside probe 1's 25mi ellipse; point 3 is far away. The tall bbox
    // spans several 0.5° bands — the explode must still find the probe's.
    val shapes = Seq(
      (1L, 40.0, -75.0, "US", false, null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double], "City"),
      (2L, 40.1, -75.1, "US", false, null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double], "City"),
      (3L, 10.0, 10.0, "US", false, null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double], "City"),
      (100L, 40.5, -75.5, "US", true, java.lang.Double.valueOf(39.5),
        java.lang.Double.valueOf(41.5), java.lang.Double.valueOf(-76.0),
        java.lang.Double.valueOf(-74.0), "Metro"),
      (200L, 50.0, -75.0, "US", true, java.lang.Double.valueOf(49.5),
        java.lang.Double.valueOf(50.5), java.lang.Double.valueOf(-76.0),
        java.lang.Double.valueOf(-74.0), "Metro")
    ).toDF("id", "latitude", "longitude", "country", "is_aggregate",
      "ll_latitude", "ur_latitude", "ll_longitude", "ur_longitude", "geo_type")
    val probes = shapes.filter(col("id") === 1L)
      .select(col("id").as("probe_id"), col("latitude").as("p_lat"),
        col("longitude").as("p_lng"), col("country").as("p_country"))
    val got = R.radiusSearchBatchAllOver(probes, shapes, radiusMiles = 25.0)
      .collect().map(r => (r.getLong(1), r.getBoolean(3))).toSet
    // point branch: self + point 2; aggregate branch: bbox 100 only
    assert(got == Set((1L, false), (2L, false), (100L, true)), got.toString)
  }

  test("segment dedup bites: drops, full emptying, and count invariants") {
    val rows = Dedup.segmentDedup(spark, dir).collect()
    // (doc_id, n_segments, n_dropped, kept_md5)
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1)))
    assert(rows.exists(r => r.getLong(2) > 0), "no segment dropped — cut is vacuous")
    assert(rows.exists(r => r.getLong(2) == 0), "every doc lost segments — cut too hot")
    // a fully-emptied doc reconstructs to '' (md5 of the empty string)
    val emptied = rows.filter(r => r.getLong(1) > 0 && r.getLong(2) == r.getLong(1))
    assert(emptied.nonEmpty, "emptied-doc branch not exercised on the gate corpus")
    assert(emptied.forall(_.getString(3) == "d41d8cd98f00b204e9800998ecf8427e"))
  }

  test("segment dedup with an unreachable cut is the identity (lossless segmentation)") {
    import org.apache.spark.sql.functions._
    val got = Dedup.segmentDedup(spark, dir, cut = Long.MaxValue).collect()
    assert(got.forall(_.getLong(2) == 0L), "nothing may drop under an unreachable cut")
    // reconstruction must equal the doc's exact normalized token stream
    val want = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(array_join(
        graft.functions.TextFunctions.tokens(lower(col("text"))), " ")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach(r => assert(r.getString(3) == want(r.getLong(0)),
      s"doc ${r.getLong(0)} did not reconstruct losslessly"))
  }

  test("incremental near-dup screen == the batch-straddling slice of minhashPairs") {
    import org.apache.spark.sql.functions._
    val t = Dedup.IncEstThreshold
    val mod = Dedup.IncMod; val rem = Dedup.IncRem
    // ground truth from the full self-join: pairs over threshold with
    // exactly one side in the batch, folded to (batch doc -> min partner)
    val pairs = Dedup.minhashPairs(spark, dir)
      .filter(col("est_jaccard") >= t)
      .select(col("doc_a"), col("doc_b")).collect()
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (a % mod == rem, b % mod == rem) match {
          case (true, false) => Seq(a -> b)
          case (false, true) => Seq(b -> a)
          case _ => Seq.empty
        }
      }
    val want = pairs.groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).min }
    val got = Dedup.incrementalNearDups(spark, dir).collect()
      .filter(_.getBoolean(1))
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == want, s"got=$got want=$want")
    assert(got.nonEmpty, "no batch doc flagged — the screen is vacuous")
  }

  test("semantic near-dups contain every same-cell LSH near-dup pair") {
    import org.apache.spark.sql.functions._
    val t = 0.40
    val sem = Dedup.semanticNearDups(spark, dir, t).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(sem.nonEmpty)
    // LSH-bucket pairs >= t whose two vectors share a k-means cell are a
    // subset of the cell-local search by construction
    val e = Tables.embeddings(spark, dir)
    val cells = graft.operators.KMeans
      .assign(e, graft.operators.KMeans.trainedCentroids(spark, dir))
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Dedup.embeddingNearDups(spark, dir, t).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => cells(a) == cells(b) }
    assert(lsh.forall(sem.contains), s"missing: ${lsh.filterNot(sem.contains).toSeq}")
  }

  test("winnowing: the K+W-1 guarantee on crafted docs; gap-<=-W coverage on the corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two docs share EXACTLY a 7-token run (K+W-1 with K=W=4) embedded in
    // otherwise-disjoint text: the winnowing guarantee promises at least
    // one identical selected fingerprint
    val run = "alpha bravo charlie delta echo foxtrot golf"
    val crafted = Seq(
      (1L, s"one two three $run four five six seven eight"),
      (2L, s"red green blue $run yellow purple orange pink teal")
    ).toDF("doc_id", "text")
    val sel = graft.operators.TextAnalysis.winnowSelect(crafted)
      .select($"doc_id", $"fp").distinct()
    val shared = sel.filter($"doc_id" === 1L).select("fp")
      .intersect(sel.filter($"doc_id" === 2L).select("fp")).count()
    assert(shared >= 1, "7-token shared run produced no shared fingerprint")
    // corpus-wide structural pin: within a doc, consecutive selected
    // positions are at most W apart and the first is inside the first
    // window — i.e. every window of W grams contains a selection
    val W = graft.operators.TextAnalysis.WinnowW
    val sel2 = graft.operators.TextAnalysis.winnowSelect(
      Tables.documents(spark, dir))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val badGap = sel2
      .withColumn("gap", $"pos" - lag($"pos", 1).over(w))
      .filter($"gap" > W).count()
    val badFirst = sel2.groupBy($"doc_id").agg(min($"pos").as("p0"))
      .filter($"p0" >= W).count()
    assert(badGap == 0 && badFirst == 0,
      s"coverage hole: $badGap gaps > $W, $badFirst late first selections")
    assert(sel2.count() > 0)
  }

  test("winnowing positions survive a >2^20-token document (packed-key headroom)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Regression pin for the 2^20 position base: a ~1.3M-token doc put
    // positions past the old M, silently corrupting the window argmin
    // (M-1-pos went negative) and the recovered pos/fp. With M = 2^32
    // the whole range packs exactly — selections must cover the tail
    // with in-range, strictly increasing positions.
    val n = 1300000
    val text = (0 until n).map(i => s"t${i % 977}x${i % 31}").mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val W = graft.operators.TextAnalysis.WinnowW
    val K = graft.operators.TextAnalysis.WinnowK
    val sel = graft.operators.TextAnalysis.winnowSelect(d)
      .select($"pos").collect().map(_.getLong(0)).sorted
    assert(sel.nonEmpty && sel.last > (1L << 20),
      s"no selection past the old 2^20 base (max ${sel.lastOption})")
    assert(sel.head >= 0 && sel.last <= (n - K).toLong,
      s"out-of-range recovered position: ${sel.head}..${sel.last}")
    // coverage: no gap wider than W anywhere, INCLUDING past 2^20 — the
    // old base made exactly this region's argmin garbage
    val maxGap = sel.sliding(2).collect { case Array(a, b) => b - a }.max
    assert(maxGap <= W, s"coverage hole of $maxGap past the packing range")
  }

  test("minseg encodeIndexed (materialized per-word table) == encode (inline)") {
    import graft.operators.Unigram
    val inline = Unigram.encode(spark, dir).collect()
    val indexed = Unigram.encodeIndexed(spark, dir).collect()
    assert(indexed.toSeq == inline.toSeq)
    assert(inline.nonEmpty)
  }

  test("minseg DP == brute-force segmentation, word for word; fallback on an uncoverable word") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Unigram
    // brute-force reference: classic O(len^2) DP minimizing (pieces, -score)
    def brute(word: String, vocab: Map[String, Long]): Option[(Long, Long)] = {
      val n = word.length
      // best(j) = (pieces, score) covering word[0, j)
      val best = Array.fill[Option[(Long, Long)]](n + 1)(None)
      best(0) = Some((0L, 0L))
      for (j <- 1 to n; i <- math.max(0, j - Unigram.MaxPieceLen) until j) {
        val piece = word.substring(i, j)
        (best(i), vocab.get(piece)) match {
          case (Some((k, v)), Some(c)) =>
            val (ck, cv) = (k + 1, v + c)
            best(j) = best(j) match {
              case Some((bk, bv)) if bk < ck || (bk == ck && bv >= cv) => best(j)
              case _ => Some((ck, cv))
            }
          case _ => ()
        }
      }
      best(n).filter(_._1 <= Unigram.KCap)
    }
    val vocab = Unigram.vocabOf(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Unigram.encodeTable(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    got.foreach { case (w, (n, s)) =>
      brute(w, vocab) match {
        case Some((bn, bs)) =>
          assert((bn, bs) == (n, s), s"word '$w': dp=($n,$s) brute=($bn,$bs)")
        case None => // uncoverable within KCap: fallback = all singles
          assert(n == w.length.toLong, s"word '$w': fallback pieces $n != len")
      }
    }
    // crafted corpus: a 20-char once-only word has no multi-char vocab
    // pieces (MinCount=3), needs 20 singles > KCap -> fallback row
    val crafted = Seq(
      (1L, "abcdefghijklmnopqrst"),
      (2L, "zz zz zz"),
      (3L, "zz qq qq qq")).toDF("doc_id", "text")
    // vocabOf/encodeTable read from dir; drive the core over crafted docs
    // via a temp dir-free path: reuse private pieces through encode over a
    // registered temp view is not exposed — assert through the public
    // face on a temp parquet dir instead
    val tmp = java.nio.file.Files.createTempDirectory("minseg").toString
    crafted.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val enc = Unigram.encodeTable(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(enc("abcdefghijklmnopqrst")._1 == 20L,
      s"expected all-singles fallback, got ${enc("abcdefghijklmnopqrst")}")
    assert(enc("zz")._1 == 1L, s"'zz' (count 4) should be one piece: ${enc("zz")}")
  }

  test("span dedup islands: multi-span, gap, adjacency, and intra-doc repeat") {
    import spark.implicits._
    // A (8 toks) is shared by docs 1+2, B by docs 1+3; C repeats INSIDE
    // doc 4 at positions 0 and 8 (adjacent islands -> ONE merged span).
    val A = (1 to 8).map("a" + _).mkString(" ")
    val B = (1 to 8).map("b" + _).mkString(" ")
    val C = (1 to 8).map("c" + _).mkString(" ")
    val docs = Seq(
      (1L, s"$A u1 u2 u3 $B"), // spans [0,7] and [11,18] — gap preserved
      (2L, s"$A v1 v2 v3"),
      (3L, s"w1 w2 $B"),
      (4L, s"$C $C")           // dup windows at 0 and 8 merge: [0,15]
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedupOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(got == List(
      (1L, 0L, 7L, 1L), (1L, 11L, 18L, 1L),
      (2L, 0L, 7L, 1L),
      (3L, 2L, 9L, 1L),
      (4L, 0L, 15L, 2L)), got.toString)
  }

  test("span df-cap bites on a crafted hot window; genuine dup spans survive") {
    import spark.implicits._
    // 10 docs of ONE shared 8-token window (the hot boilerplate), 2 docs
    // sharing a genuine 10-token duplicate, 4 singleton ballast docs.
    val hot = (1L to 10L).map(i => (i, "h1 h2 h3 h4 h5 h6 h7 h8"))
    val dup = Seq(21L, 22L).map(i => (i, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"))
    val solo = (31L to 34L).map(i => (i, s"s$i t$i u$i v$i w$i x$i y$i z$i"))
    val docs = (hot ++ dup ++ solo).toDF("doc_id", "text")
    // total windows = 10 + 2*3 + 4 = 20; hot c=10 cut at inv=4 (40 > 20),
    // dup c=2 kept (8 <= 20)
    val capped = Dedup.spanDedupCappedOver(docs, dfCapInverse = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(capped == Seq((21L, 0L, 9L), (22L, 0L, 9L)),
      s"expected only the genuine dup spans, got $capped")
    // the uncapped form flags the hot docs too — that delta IS the cut
    val uncapped = Dedup.spanDedupOver(docs)
      .collect().map(_.getLong(0)).toSet
    assert((1L to 10L).forall(uncapped.contains), s"uncapped missed hot docs: $uncapped")
  }

  test("batched BPE: dominance drops conflicting pairs; simultaneous == sequential") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // (a,b):3 ranks first; (b,c):2 shares 'b' with it -> dominated;
    // (d,e):2 is disjoint -> selected second
    val docs = Seq((0L, "ab ab ab bc bc de de")).toDF("doc_id", "text")
    val (merges, _) = trainOver(docs, rounds = 1, m = 2)
    val m = merges.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(m.toSeq == Seq((1L, "a", "b", 3L), (2L, "d", "e", 2L)), m.toSeq.toString)
    // simultaneous application of a disjoint batch == the sequential fold
    val docs2 = Seq((0L, "ab ab cd cd ef")).toDF("doc_id", "text")
    def syms(df: org.apache.spark.sql.DataFrame) =
      df.select(col("word"), col("idx"), col("sym")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq.sorted
    val batched = trainOver(docs2, rounds = 1, m = 2)._2
    val sequential = trainOver(docs2, rounds = 2, m = 1)._2
    assert(syms(batched).nonEmpty && syms(batched) == syms(sequential))
  }

  test("BPE under reliable checkpoint == local lineage cuts (preemptible-cluster mode)") {
    import spark.implicits._
    val docs = Seq((0L, "ab ab ab bc bc de de xy xy")).toDF("doc_id", "text")
    val local = trainOver(docs, rounds = 2, m = 2)._1.collect().toSeq
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("bpe_ckpt").toString)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val reliable = trainOver(docs, rounds = 2, m = 2)._1.collect().toSeq
      assert(reliable.nonEmpty && reliable == local)
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  test("BPE delta pair counts equal a full recount after every round") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.BpeTrainer
    // repeated + overlapping chains + untouched words: the delta must
    // subtract vanished pairs exactly, add minted-symbol pairs, and leave
    // untouched words' contributions alone (zero-count entries drop out)
    val docs = Seq((0L, "abab abab cdcd xyz xyz qq aaaa")).toDF("doc_id", "text")
    var s = symbols0Of(docs)
    var pc = BpeTrainer.pairCounts(s).localCheckpoint(true)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sorted
    (1 to 3).foreach { t =>
      val bs = BpeTrainer.bestPairsFrom(pc, m = 2).localCheckpoint(true)
      val tw = BpeTrainer.touchedWords(s, bs).localCheckpoint(true)
      val s2 = BpeTrainer.applyMerges(s, bs).localCheckpoint(true)
      pc = BpeTrainer.pairDelta(pc,
        BpeTrainer.sliceByWords(s, tw),
        BpeTrainer.sliceByWords(s2, tw)).localCheckpoint(true)
      val full = BpeTrainer.pairCounts(s2)
      assert(key(pc) == key(full), s"round $t: delta != recount")
      assert(key(pc).nonEmpty, s"round $t: vacuous")
      s = s2
    }
  }

  test("BPE merge application is greedy non-overlapping (run parity) and feeds back") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // "aaaa": overlapping (a,a) chain -> 1st and 3rd occurrences merge
    // ([aa, aa], never [aa, a, a] or a double-consume); second iteration
    // must pick the LEARNED symbol pair (aa, aa).
    val docs = Seq((0L, "aaaa aaaa b")).toDF("doc_id", "text")
    val (merges, sK) = trainOver(docs, 2)
    val m = merges.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    // iter 1: (a, a) appears 3x per word instance, 2 instances -> 6
    assert(m(0) == (1L, "a", "a", 6L), m.toSeq.toString)
    // iter 2: the merged symbol pairs with itself: (aa, aa) count 2
    assert(m(1) == (2L, "aa", "aa", 2L), m.toSeq.toString)
    val fin = sK.filter(col("word") === "aaaa").collect().map(_.getString(3)).toSeq
    assert(fin == Seq("aaaa"), fin.toString)
  }

  test("minhash-recall truth: prefix-filter == count-join; admission prediction exact") {
    import org.apache.spark.sql.functions._
    val sh = graft.functions.MinHashSignature.shingleHashes(
      lower(col("text")), Dedup.ShingleWords)
    val ds = Tables.documents(spark, dir)
      .select(col("doc_id"), sh.as("sh")).filter(size(col("sh")) > 0)
    val ex = ds.select(col("doc_id"), explode(col("sh")).as("s"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaCount = pairs(Dedup.recallTruthCountJoin(ds, ex))
    val viaPrefix = pairs(Dedup.recallTruthPrefixFilter(ds, ex))
    assert(viaCount.nonEmpty && viaPrefix == viaCount)
    // The dispatch's Σ df(df−1)/2 prediction is EXACT: it equals the
    // count-join's pre-aggregation output row count (one row per
    // (pair, shared shingle)).
    val predicted = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * (col("df") - 1L)), lit(0L)))
      .head().getLong(0) / 2L
    val actual = ex.as("x").join(ex.as("y"),
      col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id")).count()
    assert(predicted == actual, s"predicted $predicted != actual $actual")
  }

  test("minhash-recall truth spellings agree on a Zipf-hot corpus, and the prefix join shrinks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 60 docs all sharing one corpus-hot shingle ("alpha beta gamma") with
    // unique tails, plus 4 genuine near-dup pairs that must survive both
    // spellings. The hot shingle ranks LAST in every doc's df-order, so
    // the prefix join must emit far fewer rows than the Σdf² count-join.
    val hot = (1 to 60).map(i =>
      (i.toLong, s"alpha beta gamma tail$i word$i extra$i more$i"))
    val dups = (1 to 4).flatMap(i => Seq(
      (100L + i, s"the quick brown fox jumps over dog number $i variant one"),
      (200L + i, s"the quick brown fox jumps over dog number $i variant two")))
    val docs = (hot ++ dups).toDF("doc_id", "text")
    val sh = graft.functions.MinHashSignature.shingleHashes(
      lower(col("text")), Dedup.ShingleWords)
    val ds = docs.select(col("doc_id"), sh.as("sh")).filter(size(col("sh")) > 0)
    val ex = ds.select(col("doc_id"), explode(col("sh")).as("s"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaCount = pairs(Dedup.recallTruthCountJoin(ds, ex))
    val viaPrefix = pairs(Dedup.recallTruthPrefixFilter(ds, ex))
    assert(viaPrefix == viaCount)
    assert((1 to 4).forall(i => viaCount.contains((100L + i, 200L + i))),
      s"near-dup pairs missing from truth: $viaCount")
    // the escalation bites: count-join candidate rows >= C(60,2) from the
    // hot shingle alone; the prefix join excludes it
    val countRows = ex.as("x").join(ex.as("y"),
      col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id")).count()
    val sdf = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val rankedPrefix = ex.join(sdf, "s")
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("s"))))
      .withColumn("setsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .withColumn("prefix_len", col("setsize") -
        ceil(lit(Dedup.MinhashRecallThreshold) * col("setsize") - 1e-9) + 1)
      .filter(col("rank") <= col("prefix_len"))
      .select(col("doc_id"), col("s"))
    val prefixRows = rankedPrefix.as("x").join(rankedPrefix.as("y"),
      col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id")).count()
    assert(countRows >= 60L * 59 / 2, s"hot shingle did not go hot: $countRows")
    assert(prefixRows * 4 < countRows,
      s"prefix join ($prefixRows rows) should be far below count join ($countRows)")
  }

  test("trained quality classifier beats the base rate on the teacher labels") {
    val rows = graft.operators.QualityModel.lrScore(spark, dir).collect()
    val n = rows.length.toDouble
    val acc = rows.count(_.getBoolean(4)) / n
    val base = math.max(rows.count(_.getDouble(1) == 1.0) / n,
      rows.count(_.getDouble(1) == 0.0) / n)
    assert(acc > base + 0.1, s"accuracy $acc does not beat base rate $base")
    // the length feature carries positive teacher weight — training must
    // recover its sign
    val w = graft.operators.QualityModel.lrTrain(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(1) > 0, s"w1 should be positive, got ${w(1)}")
  }

  test("two-level IVF with nprobe1 = C1 degenerates to single-level exactly") {
    // probing ALL coarse groups makes level 1 prune nothing, so the fine
    // ranking sees the full codebook and the result must equal ivfTopK
    // bit-for-bit — the correctness anchor under the coarse pruning knob
    val single = Similarity.ivfTopK(spark, dir, 7L, 10, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    val two = Similarity.ivf2TopK(spark, dir, 7L, 10, nprobe = 4,
        numCoarse = 4, nprobe1 = 4)
      .collect().map(_.toSeq).toSeq
    assert(two == single && single.nonEmpty)
    // and the pruned form still returns k rows (coarse pruning is a
    // recall trade, not a result-size change)
    assert(Similarity.ivf2TopK(spark, dir, 7L, 10, nprobe = 4).count() == 10)
    // the served (cell-partitioned index) twin is bit-identical to the
    // inline form at the gate parameters — the shared oracle's premise
    val inline2 = Similarity.ivf2TopK(spark, dir, 7L, 10, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    val served2 = Similarity.ivf2BucketedTopK(spark, dir, 7L, 10, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    assert(served2 == inline2)
  }

  test("two-level IVF+PQ degenerates to single-level IVF-PQ; served == inline") {
    // nprobe1 = C1 → the coarse level prunes nothing, the probed cells are
    // single-level ivfPqTopK's, and the PQ-ADC leg is shared — so the
    // composition must equal ivfPqTopK bit-for-bit
    val single = Similarity.ivfPqTopK(spark, dir, 7L, 10, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    val two = Similarity.ivf2PqTopK(spark, dir, 7L, 10, nprobe = 4,
        numCoarse = 4, nprobe1 = 4)
      .collect().map(_.toSeq).toSeq
    assert(two == single && single.nonEmpty)
    // the served twin reads the cell-partitioned codes artifact instead of
    // encoding inline — bit-identical at the gate parameters (the shared
    // oracle's premise), and still k rows under coarse pruning
    val inline2 = Similarity.ivf2PqTopK(spark, dir, 7L, 10, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    val served2 = Similarity.ivf2PqBucketedTopK(spark, dir, 7L, 10, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    assert(served2 == inline2 && inline2.size == 10)
  }

  test("batch IVF-PQ: each probe's slice == the single-probe form run alone") {
    import org.apache.spark.sql.functions.col
    val batch = Similarity.ivfPqBatchTopK(spark, dir, 10, nprobe = 4).collect()
    val pids = batch.map(_.getLong(0)).distinct.sorted
    assert(pids.nonEmpty)
    pids.foreach { pid =>
      // batch rows for pid, rank column dropped (the single form has none)
      val slice = batch.filter(_.getLong(0) == pid)
        .sortBy(_.getLong(1))
        .map(r => Seq(r.get(2), r.get(3), r.get(4))).toSeq
      val single = Similarity.ivfPqTopK(spark, dir, pid, 10, nprobe = 4)
        .collect().map(_.toSeq).toSeq
      assert(slice == single, s"probe $pid: batch slice != single-probe result")
    }
  }

  test("coarse+refine with full probing degenerates to the int8 tier exactly") {
    // nprobe = C (all cells), nprobe1 = C1 (no coarse pruning), refine
    // deep enough to shortlist every candidate → the ADC stage prunes
    // nothing and the re-rank must equal the int8 tier's own top-k
    // bit-for-bit (same dequantized cosine, same NaN-drop convention)
    val full = Similarity.int8TopK(spark, dir, 7L, 10)
      .collect().map(_.toSeq).toSeq
    val refined = Similarity.ivf2PqRefineTopK(spark, dir, 7L, 10,
        nprobe = 16, numCoarse = 4, nprobe1 = 4, refine = 1000)
      .collect().map(_.toSeq).toSeq
    assert(refined == full && full.nonEmpty)
    // the pruned form is still k rows (refine changes ranking, not size)
    assert(Similarity.ivf2PqRefineTopK(spark, dir, 7L, 10, nprobe = 4)
      .count() == 10)
  }

  test("sized refine face == the composed per-request plan, over 56 probes and an absent id") {
    import OperatorParitySpec.{composedProbeCells, composedRefineTopKSized, rows}
    import org.apache.spark.sql.functions.col
    // at this corpus the sized plan probes every cell and shortlists every
    // candidate, so the sweep pins the probe fetch and the int8 re-rank;
    // the probe-cell selection is pinned below under narrowed knobs, and
    // the ADC shortlist on a corpus that prunes in AnnServingSpec
    val ids = (0L until 500L by 9L) :+ 499L
    assert(ids.size >= 50)
    ids.foreach { id =>
      val got = Similarity.ivf2PqRefineTopKSized(spark, dir, id, 10)
      val want = composedRefineTopKSized(spark, dir, id, 10)
      assert(got.schema == want.schema)
      assert(rows(got) == rows(want) && rows(want).nonEmpty, s"probe $id")
    }
    val absent = Similarity.ivf2PqRefineTopKSized(spark, dir, 1000000L, 10)
    assert(absent.collect().isEmpty)
    assert(absent.columns.toSeq == Seq("vec_id", "label", "cosine_sim"))
    assert(absent.schema == composedRefineTopKSized(spark, dir, 1000000L, 10).schema)

    val model = Similarity.annModel(spark, dir)
    val ncoarse = Similarity.annRefinePlan(model.n, 10)._2
    val fine = Tables.parquet(spark, model.key.finePath)
    val e = Tables.embeddings(spark, dir)
    for (id <- ids.take(12); (np1, nprobe) <- Seq((1, 2), (2, 3), (3, 6))) {
      val probe = e.filter(col("vec_id") === id)
        .select(col("embedding").cast("array<double>").as("pemb"))
      val p = probe.head().getSeq[Double](0).toArray
      val got = model.copy(np1 = np1, nprobe = nprobe)
        .probeCells(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(p))
      val want = composedProbeCells(fine, probe, ncoarse, np1, nprobe)
        .collect().map(_.getAs[Number](0).longValue)
      assert(got.toSeq == want.toSeq && got.length == nprobe,
        s"probe $id at np1=$np1 nprobe=$nprobe")
    }
  }

  test("sig-factored near-canon == pairs spelling, incl. on a Zipf-hot corpus") {
    import org.apache.spark.sql.functions.{col, lit, pmod, when}
    // The round-9 skew fix (Dedup.nearCanonBySig doc): both spellings must
    // agree doc-for-doc — on the gate corpus AND on a crafted corpus where
    // 200 permille of docs collapse onto one text (one hot sig group;
    // the pairs spelling pays the B^2 clique there, the sig spelling one
    // group row — semantics identical either way).
    def pairsOf(d: String) = nearCanonByPairs(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def sigOf(d: String) = Dedup.nearCanonBySig(Dedup.minhashSignatures(spark, d))
      .filter(col("near_canon").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = sigOf(dir)
    assert(base == pairsOf(dir) && base.nonEmpty)
    val work = java.nio.file.Files.createTempDirectory("zipfhot-spec").toString
    Tables.documents(spark, dir).withColumn("text",
        when(pmod(col("doc_id"), lit(1000L)) < 200L,
          lit("the quick brown fox jumps over the lazy dog"))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    val hot = sigOf(work)
    assert(hot == pairsOf(work))
    // non-vacuous: the hot cluster links every non-min hot doc
    val hotIds = (0L until 500L).filter(_ % 1000L < 200L)
    assert(hotIds.drop(1).forall(id => hot.get(id).contains(hotIds.head)),
      s"hot cluster not canonicalized onto ${hotIds.head}")
  }

  test("live localtime face: one instant per query, exact zone math, fixed-instant agreement") {
    import java.time.{LocalDateTime, ZoneId, ZoneOffset}
    import java.time.format.DateTimeFormatter
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val live = graft.operators.ShapeOps.localTimesNow(spark, dir).collect()
    assert(live.nonEmpty)
    // every row must carry the SAME as_of instant (ComputeCurrentTime
    // resolves all localtimestamp() calls once per query — the analogue
    // of the reference's single datetime.now() call)
    val instants = live.map(_.getString(2)).distinct
    assert(instants.length == 1, s"multiple as_of instants: ${instants.toSeq}")
    val asOf = LocalDateTime.parse(instants.head, fmt)
    // exact recompute: local_now must be as_of shifted by the zone's
    // offset AT that instant (java.time is the independent tz oracle)
    live.foreach { r =>
      val tz = r.getString(1)
      val want = asOf.atOffset(ZoneOffset.UTC)
        .atZoneSameInstant(ZoneId.of(Option(tz).getOrElse("UTC")))
        .toLocalDateTime.format(fmt)
      assert(r.getString(3) == want,
        s"shape ${r.getLong(0)} tz=$tz: got ${r.getString(3)}, want $want")
    }
    // tie to the fixed-instant gate rows: for DST-free zones (winter and
    // summer offsets agree) the live offset equals that same offset
    val fixed = graft.operators.ShapeOps.localTimes(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    val winter = LocalDateTime.parse(graft.operators.ShapeOps.WinterInstant, fmt)
    val summer = LocalDateTime.parse(graft.operators.ShapeOps.SummerInstant, fmt)
    var dstFree = 0
    live.foreach { r =>
      val (lw, ls) = fixed(r.getLong(0))
      val offW = java.time.Duration.between(winter, LocalDateTime.parse(lw, fmt)).toMinutes
      val offS = java.time.Duration.between(summer, LocalDateTime.parse(ls, fmt)).toMinutes
      // guard against a legislated base-offset change between the fixed
      // instants and the test run (tzdb updates): the fixed-instant tie
      // only holds for zones whose CURRENT rules still give the same
      // offset at the live instant — java.time is the arbiter of that,
      // so a future tzdb edit cannot turn this into a flake
      val zone = ZoneId.of(Option(r.getString(1)).getOrElse("UTC"))
      val offNowByRules = asOf.atOffset(ZoneOffset.UTC).atZoneSameInstant(zone)
        .getOffset.getTotalSeconds / 60L
      if (offW == offS && offNowByRules == offW) {
        dstFree += 1
        val offLive = java.time.Duration
          .between(asOf, LocalDateTime.parse(r.getString(3), fmt)).toMinutes
        assert(offLive == offW,
          s"shape ${r.getLong(0)} tz=${r.getString(1)}: live offset $offLive != fixed $offW")
      }
    }
    assert(dstFree > 0, "no DST-free zone in the gate data — agreement check vacuous")
  }
}

object OperatorParitySpec {
  import graft.functions.TextFunctions.{HashMod, polyHash, tokens}
  import graft.operators.{BpeTrainer, KMeans}
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** Composed built-in form of `Dedup.simhashSigs` (interpreted). NULL
    * text → NULL fingerprint, explicitly — without the guard the per-bit
    * `when(null >= 0, …).otherwise(0)` would collapse NULL docs to
    * fingerprint 0 while the kernel (UnaryExpression null propagation)
    * yields NULL, breaking the kernel==composed pin. */
  def simhashSigsComposed(spark: SparkSession, dir: String): DataFrame = {
    import Dedup.{SimHashBits, permA, permB}
    def bitSign(h: Column, b: Int): Column =
      ((h * permA(b) + permB(b)) % HashMod % 2L) * 2L - 1L
    val d = Tables.documents(spark, dir)
    val tokHashes = transform(tokens(lower(col("text"))), t => polyHash(t))
    val bits: Column = (0 until SimHashBits).map { b =>
      val sumSign = aggregate(col("th"), lit(0L), (acc, h) => acc + bitSign(h, b))
      when(sumSign >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    d.select(col("doc_id"), tokHashes.as("th"))
      .select(col("doc_id"),
        when(col("th").isNull, lit(null).cast("long")).otherwise(bits).as("simhash"))
  }

  /** The capped containment screen over an explicit (id, grams) relation
    * with the df relation derived inline, so the cut's bite can be pinned
    * on a crafted hot corpus without an artifact. */
  def containmentCappedOver(c: DataFrame, threshold: Double,
                            dfCapInverse: Long): DataFrame =
    Dedup.cappedWithDf(c, threshold, dfCapInverse,
      c.select(explode(col("grams")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df")))

  /** The pre-round-9 pairs-based spelling of `Dedup.nearCanonBySig`
    * (quadratic on hot clusters). */
  def nearCanonByPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(spark, dir)
      .filter(col("est_jaccard") >= Dedup.PipelineEstThreshold)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("near_canon"))

  /** The initial symbol relation of an explicit (doc_id, text) corpus. */
  def symbols0Of(docs: DataFrame): DataFrame =
    BpeTrainer.symbols0(docs.select(explode(tokens(lower(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt")))

  /** Un-materialized in-plan BATCHED BPE fold over an explicit corpus
    * (crafted tiny inputs; the plan growth per round is why the gate path
    * materializes). Returns (merges, finalSymbols). With m=1 the dominance
    * window degenerates to the single argmax pair, so this reproduces the
    * sequential fold exactly. */
  def trainOver(docs: DataFrame, rounds: Int, m: Int = 1): (DataFrame, DataFrame) = {
    val s0 = symbols0Of(docs)
    val (merges, sK) = (1 to rounds).foldLeft((Seq.empty[DataFrame], s0)) {
      case ((ms, s), t) =>
        val bs = BpeTrainer.bestPairs(s, m)
        val tagged = bs.select((lit((t - 1).toLong * m) + col("sel")).as("iter"),
          col("a").as("pair_a"), col("b").as("pair_b"),
          concat(col("a"), col("b")).as("merged"), col("c").as("pair_count"))
        // per-round lineage cut — the in-plan fold otherwise re-derives
        // s_{t-1} for every consumer (2^t tree growth; the gate path
        // materializes to parquet instead)
        (ms :+ tagged, BpeTrainer.lineageCut(BpeTrainer.applyMerges(s, bs)))
    }
    (merges.reduce(_ union _).orderBy(col("iter")), sK)
  }

  /** Reference for `Similarity.ivf2PqRefineTopKSized`: the sized face
    * composed per request, every query-invariant input rebuilt as a Spark
    * sub-plan — the count, the fine codebook, the coarse reps and
    * fine→coarse assignment, the probe-cell ranking, the PQ codebooks and
    * the joined ADC fold. It reads the same artifacts as the face. */
  def composedRefineTopKSized(spark: SparkSession, dir: String, probeId: Long,
                              k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val (ncells, ncoarse, np1, nprobe, refine) = Similarity.annRefinePlan(e.count(), k)
    val finePath = KMeans.ensureTrainedCentroids(spark, dir,
      Similarity.AnnTrainIters, 25L, ncells)
    val fine = Tables.parquet(spark, finePath)
    val books = Similarity.pqCodebooks(e, 25L)
    val probe = e.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>").as("pemb"))
    val probeCells = composedProbeCells(fine, probe, ncoarse, np1, nprobe)
    val codes = Tables.parquet(spark,
        Similarity.ensureIvfPqCodesTrained(spark, dir, finePath, 25L, ncells))
      .join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= probeId)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
    val shortlist = Similarity.adcScore(codes, books, e, probe, k * refine)
      .select(col("vec_id"))
    val t = Similarity.int8CodesOf(spark, dir)
      .withColumn("demb", transform(col("codes"), c => c.cast("double") * col("scale")))
    val pInt8 = t.filter(col("vec_id") === probeId).select(col("demb").as("qemb"))
    t.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(pInt8))
      .select(col("vec_id"), col("label"),
        round(graft.functions.VectorFunctions.cosineDF(col("demb"), col("qemb")), 4)
          .as("cosine_sim"))
      .filter(!isnan(col("cosine_sim")))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The composed coarse→fine probe-cell selection over a trained
    * (array<double>) codebook at centroidMod 25 and coarseStride 4. */
  def composedProbeCells(fine: DataFrame, probe: DataFrame, ncoarse: Int,
                         np1: Int, nprobe: Int): DataFrame = {
    val cosD = graft.functions.VectorFunctions.cosineDF _
    val coarse = Similarity.coarseReps(fine, 25L, 4L, ncoarse)
    val f2c = KMeans.assign(
        fine.select(col("cid").as("vec_id"), col("cemb").as("embedding")),
        coarse.select(col("gid").as("cid"), col("gemb").as("cemb")))
      .select(col("vec_id").as("cid"), col("cell").as("gid"))
    val probeGroups = coarse.crossJoin(broadcast(probe))
      .select(col("gid"), cosD(col("gemb"), col("pemb")).as("gc"))
      .orderBy(col("gc").desc, col("gid")).limit(np1)
      .select(col("gid"))
    fine.join(broadcast(f2c), "cid")
      .join(broadcast(probeGroups), "gid")
      .crossJoin(broadcast(probe))
      .select(col("cid"), cosD(col("cemb"), col("pemb")).as("pc"))
      .orderBy(col("pc").desc, col("cid")).limit(nprobe)
      .select(col("cid").as("cell"))
  }
}
