package graft.plans

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry.TableFunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StringType

/** Engine entry point into Catalyst: registers the native expressions with
  * the session FunctionRegistry, so SQL users get them as first-class
  * functions (codegen'd, optimizer-visible — NOT UDFs):
  *
  *   spark.sql("SELECT damerau_levenshtein(a, b) FROM t")
  *   spark.sql("SELECT cosine_similarity(e1, e2) FROM pairs")
  *   spark.sql("SELECT minhash_signature(lower(text), 3, 16) FROM docs")
  *
  * ... and the flagship COMPOSITE pipelines with the TableFunctionRegistry,
  * so a pure-SQL user can run them without touching the Scala API
  * (table-valued functions over literal arguments — the parameters select
  * data and plan shape, so they must be plan-time constants anyway):
  *
  *   spark.sql("SELECT * FROM fuzzy_search('/data/sf0.1', 'smal widget', 15)")
  *   spark.sql("SELECT * FROM radius_search('/data/sf0.1', 7, 2000.0, true)")
  *   spark.sql("SELECT * FROM bm25_topk('/data/sf0.1', 15, 'spark', 'query')")
  *
  * Each TVF builder delegates to the exact Scala entry point (the gated
  * operator), returning its logical plan — SQL output == Scala API output
  * by construction (ExtensionsSpec pins it anyway), and the physical plan
  * is the same broadcast-probed, pushdown-pruned shape PlanShapeSpec pins.
  *
  * Two activation paths:
  *  - config: `spark.sql.extensions=graft.plans.GraftExtensions`
  *  - programmatic: `GraftExtensions.register(spark)` on a live session.
  *
  * No custom optimizer Rule or SparkStrategy is registered: every engine
  * plan compiles to stock physical operators (SURVEY.md §4) — the
  * extension surface is functions plus table functions, the honest
  * minimum. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.injections.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftExtensions.tableInjections.foreach { case (name, info, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Arity guard: without it, extra SQL args are silently DROPPED (results
    * computed on the wrong inputs) and missing ones surface as a raw
    * IndexOutOfBoundsException instead of an error naming the function. */
  private def arity(name: String, n: Int)(
      f: Seq[Expression] => Expression): FunctionBuilder =
    (args: Seq[Expression]) => {
      if (args.length != n) throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${args.length}")
      f(args)
    }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val injections: Seq[(String, ExpressionInfo, FunctionBuilder)] = Seq(
    ("damerau_levenshtein",
      info("damerau_levenshtein",
        "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein edit distance."),
      arity("damerau_levenshtein", 2)(args => DamerauLevenshteinExpr(args(0), args(1)))),
    ("vector_dot",
      info("vector_dot", "vector_dot(a, b) - left-to-right fold dot product of float arrays."),
      arity("vector_dot", 2)(args => DotProductExpr(args(0), args(1)))),
    ("cosine_similarity",
      info("cosine_similarity", "cosine_similarity(a, b) - cosine of two float arrays."),
      arity("cosine_similarity", 2)(args => CosineSimExpr(args(0), args(1)))),
    ("lsh_signature",
      info("lsh_signature",
        "lsh_signature(emb, planes) - random-hyperplane sign-bit signature."),
      arity("lsh_signature", 2)(args =>
        LshSignatureExpr(args(0), intLit(args(1), "planes")))),
    ("minhash_signature",
      info("minhash_signature",
        "minhash_signature(text, k, num_hashes) - MinHash signature over word k-shingles."),
      arity("minhash_signature", 3)(args =>
        MinHashSignature(args(0), intLit(args(1), "k"), intLit(args(2), "num_hashes")))),
    ("char_ngrams",
      info("char_ngrams", "char_ngrams(s, n) - sliding character n-grams (with multiplicity)."),
      arity("char_ngrams", 2)(args =>
        CharNgramsExpr(args(0), intLit(args(1), "n"), distinct = false))),
    ("char_ngram_set",
      info("char_ngram_set", "char_ngram_set(s, n) - distinct character n-grams, first-occurrence order."),
      arity("char_ngram_set", 2)(args =>
        CharNgramsExpr(args(0), intLit(args(1), "n"), distinct = true))),
    ("simhash_fingerprint",
      info("simhash_fingerprint",
        "simhash_fingerprint(text, n_bits) - SimHash fingerprint over word tokens."),
      arity("simhash_fingerprint", 2)(args =>
        SimHashFingerprint(args(0), intLit(args(1), "n_bits")))),
    ("cosine_similarity_d",
      info("cosine_similarity_d",
        "cosine_similarity_d(a, b) - cosine of two double arrays (trained centroids)."),
      arity("cosine_similarity_d", 2)(args => CosineSimDExpr(args(0), args(1)))),
    ("poly_hash",
      info("poly_hash",
        "poly_hash(s) - polynomial code-point hash, (h*31+cp) mod 1e9+7; empty -> 0."),
      arity("poly_hash", 1)(args => PolyHashExpr(args(0)))),
    ("gram_buckets",
      info("gram_buckets",
        "gram_buckets(s, buckets) - hashed feature buckets of unigrams ++ bigrams (DSIR)."),
      arity("gram_buckets", 2)(args =>
        GramBucketsExpr(args(0), intLit(args(1), "buckets").toLong))))

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def doubleLit(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  /** Builders constructed by [[tableInjectionsFor]] close over `captured`:
    * the programmatic path ([[register]]) captures its session, so a JVM
    * hosting several sessions serves each registration from the warehouse
    * it was registered on. The config-extensions path has no session at
    * injection time, so its builders fall back to the thread-local
    * `SparkSession.active` at analysis time — correct for the supported
    * one-session-per-JVM mode; a multi-session JVM must use [[register]],
    * or a query analyzed on a thread where a different session was last
    * active would read the wrong session's warehouse. */
  private type CapturedSession = Option[org.apache.spark.sql.SparkSession]

  /** Arity guard for table-function builders (same rationale as [[arity]]). */
  private def tArity(name: String, n: Int)(
      f: Seq[Expression] => LogicalPlan): TableFunctionBuilder =
    (args: Seq[Expression]) => {
      if (args.length != n) throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${args.length}")
      f(args)
    }

  /** Flagship composite pipelines as TABLE-VALUED functions. Builders
    * delegate to the gated Scala operators and return their logical
    * plans, so the SQL face can never drift from the API the oracle
    * gates. Arguments must be literals — they parameterize plan
    * CONSTRUCTION (which tables are read, which deltas are folded), not
    * row evaluation. `fuzzy_search` resolves its candidates when the SQL
    * is analyzed: its operator runs the hits and records jobs then and
    * returns the ranked rows as a local relation. */
  val tableInjections: Seq[(String, ExpressionInfo, TableFunctionBuilder)] =
    tableInjectionsFor(None)

  private def tableInjectionsFor(captured: CapturedSession)
      : Seq[(String, ExpressionInfo, TableFunctionBuilder)] = {
    def session = captured.getOrElse(org.apache.spark.sql.SparkSession.active)
    Seq(
    ("fuzzy_search",
      info("fuzzy_search",
        "fuzzy_search(dir, query, k) - trigram-candidate fuzzy entity search " +
          "over the geo corpus at <dir>: top-k by geo_search_score."),
      tArity("fuzzy_search", 3) { args =>
        graft.operators.FuzzySearch.fuzzySearch(session,
          strLit(args(0), "dir"), strLit(args(1), "query"),
          longLit(args(2), "k").toInt).queryExecution.logical
      }),
    ("radius_search",
      info("radius_search",
        "radius_search(dir, probe_id, miles, country_exact) - haversine radius " +
          "search around shape <probe_id> with bbox/ellipse pre-filters."),
      tArity("radius_search", 4) { args =>
        graft.operators.RadiusSearch.radiusSearch(session,
          strLit(args(0), "dir"), longLit(args(1), "probe_id"),
          doubleLit(args(2), "miles"), boolLit(args(3), "country_exact"))
          .queryExecution.logical
      }),
    ("bm25_topk",
      info("bm25_topk",
        "bm25_topk(dir, k, term, ...) - BM25 top-k documents for the query terms."),
      (args: Seq[Expression]) => {
        if (args.length < 3) throw new IllegalArgumentException(
          s"bm25_topk expects (dir, k, term, ...), got ${args.length} arguments")
        graft.operators.Retrieval.bm25TopK(session,
          strLit(args.head, "dir"), args.drop(2).zipWithIndex
            .map { case (t, i) => strLit(t, s"term ${i + 1}") },
          longLit(args(1), "k").toInt).queryExecution.logical
      }),
    // Round 12: the SCALE-SAFE tiers as TVFs — the single-probe forms
    // above are the inline anchors; a SQL user at 100 TB wants the
    // dispatched batch face and the full ANN serving ladder, so both
    // gated entry points get a SQL name too (same delegation rule: the
    // builder returns the gated operator's own logical plan).
    ("fuzzy_batch_auto",
      info("fuzzy_batch_auto",
        "fuzzy_batch_auto(dir, k) - three-tier dispatched batch fuzzy search " +
          "over the corpus query stride at <dir>: exact while the predicted " +
          "candidate volume fits the budget, else the stop-gram cut, else the " +
          "champion truncation (admission control folded from the bounded " +
          "gram-stats artifacts)."),
      tArity("fuzzy_batch_auto", 2) { args =>
        graft.operators.FuzzySearch.batchFuzzySearchAuto(session,
          strLit(args(0), "dir"), longLit(args(1), "k").toInt,
          graft.SparkEntry.P.StopGramInv).queryExecution.logical
      }),
    ("ann_topk",
      info("ann_topk",
        "ann_topk(dir, probe_id, k) - ANN top-k over the full IVF-PQ serving " +
          "ladder at <dir>: two-level probe-cell selection, ADC shortlist over " +
          "8-byte PQ codes, int8-tier refine back to exact-metric cosine."),
      tArity("ann_topk", 3) { args =>
        graft.operators.Similarity.ivf2PqRefineTopK(session,
          strLit(args(0), "dir"), longLit(args(1), "probe_id"),
          longLit(args(2), "k").toInt,
          nprobe = graft.SparkEntry.P.IvfNprobe).queryExecution.logical
      }))
  }

  /** Programmatic registration on a live session. Table-function builders
    * capture THIS session (see [[CapturedSession]]), so they keep reading
    * its warehouse even if another session is later thread-active. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    injections.foreach { case (name, i, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), i, builder)
    }
    tableInjectionsFor(Some(spark)).foreach { case (name, i, builder) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(FunctionIdentifier(name), i, builder)
    }
  }
}
