package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The trigram inverted index as a derived relation (SURVEY.md §1.3):
  * the reference's `search_dict` posting lists (geo_manager.py:644,
  * 468-476) become a deterministic derivation of the corpus — either
  * exploded `(ngram, id)` pairs (joins directly; the fuzzy pipeline's
  * form) or grouped `(ngram, ids array)` (the reference's dict shape).
  *
  * Incremental maintenance (`add_entity`, geo_manager.py:451-476) is
  * union-then-rederive: the index of `corpus ∪ new` IS the union of
  * per-row explosions, so appending new rows' pairs to the pairs relation
  * is exact — no read-modify-write of posting lists (the reference's
  * copy-append-replace, geo_manager.py:470-476), no state. At scale the
  * pairs relation is bucketed by ngram so the candidate join is
  * shuffle-free on the index side.
  */
object NgramIndex {

  /** Exploded posting pairs (ngram, id) of a corpus with `id` and
    * `clean_value` columns. */
  def postingPairs(corpus: DataFrame, n: Int = 3): DataFrame =
    corpus.select(col("id"), explode(charNgramSet(col("clean_value"), n)).as("ngram"))
      .select(col("ngram"), col("id"))

  /** Multiplicity-preserving posting pairs — one row per trigram
    * OCCURRENCE, the reference's actual index shape (add_entity appends
    * the id once per occurrence, geo_manager.py:470-476), so a count over
    * matched pairs reproduces its Counter hit totals exactly. This is the
    * relation the fuzzy pipeline's candidate generation consumes. */
  def postingPairsMulti(corpus: DataFrame, n: Int = 3): DataFrame =
    corpus.select(col("id"), explode(charNgrams(col("clean_value"), n)).as("ngram"))
      .select(col("ngram"), col("id"))

  /** Grouped posting lists — the reference's dict shape (ids sorted for
    * determinism; the reference's append order was load order). */
  def postings(corpus: DataFrame, n: Int = 3): DataFrame =
    postingPairs(corpus, n)
      .groupBy(col("ngram"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
}
