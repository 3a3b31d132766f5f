package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text / fuzzy-matching primitives as pure `Column` builders.
  *
  * Semantics follow the reference:
  *  - `cleanEntity` — geo_manager.py:445-449 (strip non-alnum-space, lower);
  *  - `charNgrams` — fuzzy.py:5-6 (sliding character n-grams, no padding,
  *    empty for strings shorter than n);
  *  - `tverskyIndex` — fuzzy.py:9-31 (q-gram SET similarity; weights
  *    normalized at plan-build time in Scala, fixing the latent bug at
  *    fuzzy.py:19 for the identity inputs it was ever called with);
  *  - `entityFuzzyScore` — geo_manager.py:484-489 (tversky(.85,.15) with a
  *    15% prefix bonus);
  *  - `geoSearchScore` — geo_manager.py:491-501 (numeric-query postal path,
  *    population-weighted rank).
  *
  * All are built-in expression compositions (array + math + when) so they
  * stay inside whole-stage codegen and remain visible to Catalyst.
  */
object TextFunctions {

  /** Large prime modulus for the deterministic polynomial rolling hash.
    * Chosen so `acc*31 + code` never overflows Long (safe under ANSI mode).
    */
  val HashMod: Long = 1000000007L

  /** geo_manager.py:445-449 — remove all but [0-9a-zA-Z ], lowercase. */
  def cleanEntity(c: Column): Column =
    lower(regexp_replace(c, "[^0-9a-zA-Z ]+", ""))

  /** fuzzy.py:5-6 — character n-grams; `len < n` → empty array.
    * Native codegen'd expression (CharNgramsExpr); VectorKernelSpec pins
    * it to the composed HOF form. */
  def charNgrams(c: Column, n: Int): Column = CharNgramsExpr.charNgramsF(c, n)

  /** Distinct character n-grams (the reference scores on q-gram SETS —
    * `set(ngrams(...))` at fuzzy.py:10-11), first-occurrence order. */
  def charNgramSet(c: Column, n: Int): Column = CharNgramsExpr.charNgramSetF(c, n)

  /** fuzzy.py:9-31 — Tversky index over two DISTINCT n-gram arrays.
    * `|A∩B| / (|A∩B| + a·|A\B| + b·|B\A|)`; empty side → 0; 0/0 → 0.
    * Weight normalization done here (plan-build time): a' = a/(a+b),
    * b' = b/(a+b) — the intended semantics of fuzzy.py:17-26.
    * Uses `|A\B| = |A| - |A∩B|` (set identity) to avoid a second
    * array_except pass.
    */
  def tverskyIndex(aGrams: Column, bGrams: Column, alpha: Double, beta: Double): Column = {
    val s = alpha + beta
    val (a, b) = (alpha / s, beta / s)
    val ia = size(array_intersect(aGrams, bGrams)).cast("double")
    val na = size(aGrams).cast("double")
    val nb = size(bGrams).cast("double")
    val denom = ia + lit(a) * (na - ia) + lit(b) * (nb - ia)
    when(na === 0 || nb === 0, lit(0.0))
      .otherwise(coalesce(ia / nullif(denom, lit(0.0)), lit(0.0)))
  }

  /** geo_manager.py:484-489 — tversky(search, source, .85, .15) with a 15%
    * multiplicative bonus when `source` starts with `search`.
    * Both inputs are expected pre-cleaned (the pipeline cleans first).
    */
  def entityFuzzyScore(search: Column, source: Column): Column = {
    val t = tverskyIndex(charNgramSet(search, 3), charNgramSet(source, 3), 0.85, 0.15)
    t * (lit(1.0) + when(source.startsWith(search), lit(0.15)).otherwise(lit(0.0)))
  }

  /** geo_manager.py:491-501 — full ranking score:
    *  - digits-only query scores against the first space-token of source
    *    (postal-code path, geo_manager.py:493-495);
    *  - population <= 0 or base <= 0.65 → base*.9;
    *  - else base*.9 + ln(population)*.1.
    */
  def geoSearchScore(search: Column, source: Column, population: Column): Column = {
    val postal = search.rlike("^[0-9]+$")
    val effSource = when(postal, split(source, " ").getItem(0)).otherwise(source)
    geoSearchScore(entityFuzzyScore(search, effSource), population)
  }

  /** geo_manager.py:497-501 — the ranking score from a precomputed `base`
    * (the `entityFuzzyScore` of the query against the effective source),
    * so a caller that already holds that score does not compute it again. */
  def geoSearchScore(base: Column, population: Column): Column =
    when(population <= 0 || base <= 0.65, base * 0.9)
      .otherwise(base * 0.9 + log(population) * 0.1)

  /** Explicit whitespace class, identical under Java regex and RE2 —
    * bare `\s` is NOT (Java's includes \x0B, RE2's does not), which would
    * silently diverge every token-derived operator from the oracle. */
  val WsClass = "[ \\t\\n\\x0B\\f\\r]"

  /** Whitespace tokenization of trimmed text; empty/blank → empty array. */
  def tokens(c: Column): Column =
    filter(split(trim(c), WsClass + "+"), t => length(t) > 0)

  /** Token `win`-gram windows of a token-array column, one space-joined
    * string per window; fewer than `win` tokens → empty array. The ONE
    * window derivation decontamination and repetition both use — a fix
    * here and in OracleSql.tokenWindows cannot drift per-operator.
    * NATIVE codegen kernel (TokenWindowsExpr, r16) — FunctionsSpec pins
    * it bit-equal to the composed twin. The coalesce
    * mirrors the composed form's null-ARRAY fallthrough: `when(size(null)
    * >= win, …).otherwise(empty)` yields an empty array for a null token
    * array (null text), and the null-intolerant kernel alone would yield
    * NULL. */
  def tokenWindows(tk: Column, win: Int): Column =
    coalesce(TokenWindowsExpr.tokenWindowsF(tk, win),
      array().cast("array<string>"))

  /** Deterministic polynomial rolling hash of a string:
    * fold over code points, `h = (h*31 + code) mod 1000000007`.
    * Oracle-replicable in ANSI SQL (DuckDB `list_reduce`), unlike Spark's
    * murmur3 `hash()` / `xxhash64()` which have no DuckDB equivalent.
    * ANSI-safe: intermediate `acc*31 + code` <= ~3.1e10 << Long.MaxValue.
    * NATIVE codegen kernel (PolyHashExpr) — FunctionsSpec pins it
    * bit-equal to the composed twin. */
  def polyHash(c: Column): Column = PolyHashExpr.polyHashF(c)

  /** Combine an array of longs into one hash (for band signatures):
    * fold `h = (h*31 + x) mod 1000000007`. */
  def polyHashLongs(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => (acc * 31L + x % HashMod) % HashMod)

  /** Word k-shingles: join each sliding window of k tokens with a space.
    * Fewer than k tokens → single shingle of the whole (matches common
    * MinHash practice of keeping short docs comparable). */
  def wordShingles(toks: Column, k: Int): Column =
    when(size(toks) <= k, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
}
