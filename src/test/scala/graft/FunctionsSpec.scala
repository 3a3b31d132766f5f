package graft

import graft.functions.DamerauLevenshtein
import graft.functions.GeoFunctions._
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

object SparkTest {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class FunctionsSpec extends AnyFunSuite {
  import FunctionsSpec._
  lazy val spark = SparkTest.spark

  private def eval1(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c.as("v")).collect()(0).get(0)

  // --- Damerau-Levenshtein (jellyfish-compatible unrestricted DL) ---
  private def dl(a: String, b: String): Int =
    DamerauLevenshtein.distance(UTF8String.fromString(a), UTF8String.fromString(b))

  test("DL basic edits") {
    assert(dl("", "") == 0)
    assert(dl("", "abc") == 3)
    assert(dl("abc", "") == 3)
    assert(dl("abc", "abc") == 0)
    assert(dl("kitten", "sitting") == 3)
  }
  test("DL transpositions (unrestricted variant, matches jellyfish/DuckDB)") {
    assert(dl("abcd", "acbd") == 1)  // single transposition
    assert(dl("ca", "abc") == 2)     // OSA would give 3
    assert(dl("cape sand recycling ", "edith ann graham") == 17) // jellyfish test vector
    assert(dl("jellyfihs", "jellyfish") == 1)
    assert(dl("ifhs", "fish") == 2)
  }
  test("DL expression through codegen") {
    val got = spark.range(1).select(
      DamerauLevenshtein.damerauLevenshtein(lit("ca"), lit("abc")).as("d"))
      .collect()(0).getInt(0)
    assert(got == 2)
  }
  test("geo DL: min of pre-comma and full") {
    val got = eval1(DamerauLevenshtein.geoDamerauLevenshtein(
      lit("nashville, tn"), lit("nashville, tx")))
    assert(got == 0)  // pre-comma parts equal
  }

  // --- ngrams ---
  test("charNgrams edge cases (fuzzy.py:5-6)") {
    assert(eval1(charNgrams(lit("nashville"), 3)).asInstanceOf[scala.collection.Seq[String]].toList ==
      Seq("nas", "ash", "shv", "hvi", "vil", "ill", "lle"))
    assert(eval1(charNgrams(lit("ab"), 3)).asInstanceOf[scala.collection.Seq[String]].toList == Seq())
    assert(eval1(charNgrams(lit(""), 3)).asInstanceOf[scala.collection.Seq[String]].toList == Seq())
    assert(eval1(charNgrams(lit("abc"), 3)).asInstanceOf[scala.collection.Seq[String]].toList == Seq("abc"))
  }

  test("native tokenWindows == composed twin, bit-exact (r16 kernel)") {
    import org.apache.spark.sql.functions.{split, expr}
    val cases = Seq(
      "a b c d e f g h i j",            // > win tokens
      "a b c d e f g h",                // exactly win tokens (win=8)
      "a b c",                          // fewer than win
      "",                               // empty text
      "one",                            // single token
      ("tok " * 40).trim,               // repeated tokens
      "café 日本 x y z w v u t s")      // non-ASCII
    Seq(2, 8).foreach { win =>
      cases.foreach { s =>
        val tk = tokens(lit(s))
        val native = eval1(tokenWindows(tk, win))
          .asInstanceOf[scala.collection.Seq[String]].toList
        val composed = eval1(tokenWindowsComposed(tk, win))
          .asInstanceOf[scala.collection.Seq[String]].toList
        assert(native == composed, s"tokenWindows('$s', $win)")
      }
      // null token array (null text) → empty array on both spellings
      val nullTk = split(expr("cast(null as string)"), " ")
      assert(eval1(tokenWindows(nullTk, win))
        .asInstanceOf[scala.collection.Seq[String]].toList == Nil)
      assert(eval1(tokenWindowsComposed(nullTk, win))
        .asInstanceOf[scala.collection.Seq[String]].toList == Nil)
    }
  }

  test("native polyHash == composed twin, bit-exact (incl. non-ASCII)") {
    val cases = Seq("", "a", "Z", "hello world", "smal widget",
      "the quick brown fox jumps over the lazy dog 0123456789",
      "café", "日本語", "a\tbc", "x" * 500)
    cases.foreach { s =>
      val native = eval1(polyHash(lit(s)))
      val composed = eval1(polyHashComposed(lit(s)))
      assert(native == composed, s"polyHash('$s'): $native != $composed")
    }
    // the known anchor: empty folds to 0
    assert(eval1(polyHash(lit(""))) == 0L)
  }

  test("cleanEntity (geo_manager.py:445-449)") {
    assert(eval1(cleanEntity(lit("Nashville, TN!"))) == "nashville tn")
    assert(eval1(cleanEntity(lit("A-B_C 1"))) == "abc 1")
  }

  // --- tversky ---
  test("tversky identical = 1, disjoint = 0, empty = 0 (fuzzy.py:9-31)") {
    val a = charNgramSet(lit("nashville"), 3)
    val b = charNgramSet(lit("nashville"), 3)
    assert(eval1(tverskyIndex(a, b, 0.85, 0.15)) == 1.0)
    val c = charNgramSet(lit("zzzzzz"), 3)
    assert(eval1(tverskyIndex(a, c, 0.85, 0.15)) == 0.0)
    assert(eval1(tverskyIndex(charNgramSet(lit(""), 3), b, 0.5, 0.5)) == 0.0)
  }
  test("tversky hand-computed") {
    // A = {abc, bcd}, B = {abc, bcx}: I=1, A\B=1, B\A=1, a=b=0.5
    // t = 1 / (1 + .5 + .5) = 0.5
    val t = eval1(tverskyIndex(charNgramSet(lit("abcd"), 3),
      charNgramSet(lit("abcx"), 3), 0.5, 0.5))
    assert(t == 0.5)
  }
  test("tversky weight normalization (fuzzy.py:17-26 intended)") {
    // weights (1.7, 0.3) normalize to (.85, .15) — same as (.85, .15)
    val a = charNgramSet(lit("abcd"), 3)
    val b = charNgramSet(lit("abcx"), 3)
    assert(eval1(tverskyIndex(a, b, 1.7, 0.3)) == eval1(tverskyIndex(a, b, 0.85, 0.15)))
  }

  // --- scores ---
  test("entityFuzzyScore prefix bonus (geo_manager.py:484-489)") {
    val noBonus = eval1(entityFuzzyScore(lit("nashvil"), lit("xnashvil"))).asInstanceOf[Double]
    val bonus = eval1(entityFuzzyScore(lit("nashvil"), lit("nashvill"))).asInstanceOf[Double]
    // prefix match multiplies by 1.15
    val t = eval1(tverskyIndex(charNgramSet(lit("nashvil"), 3),
      charNgramSet(lit("nashvill"), 3), 0.85, 0.15)).asInstanceOf[Double]
    assert(math.abs(bonus - t * 1.15) < 1e-12)
    assert(noBonus > 0)
  }
  test("geoSearchScore population branches (geo_manager.py:491-501)") {
    // identical strings (prefix bonus → base 1.15), pop 0 → 1.15 * 0.9
    val p0 = eval1(geoSearchScore(lit("abc"), lit("abc"), lit(0L))).asInstanceOf[Double]
    assert(math.abs(p0 - 1.15 * 0.9) < 1e-12)
    // pop > 0 and base > 0.65 → base*.9 + ln(pop)*.1  (base = 1.15 w/ prefix)
    val got = eval1(geoSearchScore(lit("abc"), lit("abc"), lit(1000L))).asInstanceOf[Double]
    assert(math.abs(got - (1.15 * 0.9 + math.log(1000.0) * 0.1)) < 1e-12)
  }
  test("geoSearchScore postal path (geo_manager.py:493-495)") {
    // numeric query scores against first token of source only
    val postal = eval1(geoSearchScore(lit("60606"), lit("60606 chicago"), lit(0L))).asInstanceOf[Double]
    assert(postal == 0.9 * 1.15)  // exact match on first token + prefix bonus, *0.9...
  }

  // --- geometry ---
  test("haversine known pair (Nashville→Chicago ≈ 401 mi)") {
    val d = eval1(haversineMiles(lit(36.1627), lit(-86.7816),
      lit(41.8781), lit(-87.6298))).asInstanceOf[Double]
    assert(math.abs(d - 401.0) < 5.0)
    assert(eval1(haversineMiles(lit(10.0), lit(20.0), lit(10.0), lit(20.0))) == 0.0)
  }
  test("ellipse pre-filter contains exact disk (soundness on small radii)") {
    // points within R miles by haversine must pass the ellipse filter
    val r = 50.0
    val latD = r / EarthRadiusMiles * (180.0 / math.Pi)
    for (dlat <- Seq(-0.4, 0.0, 0.3); dlng <- Seq(-0.5, 0.0, 0.45)) {
      val (plat, plng) = (36.0, -86.0)
      val (lat, lng) = (plat + dlat, plng + dlng)
      val hav = eval1(haversineMiles(lit(plat), lit(plng), lit(lat), lit(lng))).asInstanceOf[Double]
      val inEllipse = eval1(ellipseContains(lit(plat), lit(plng), lit(lat), lit(lng),
        lit(latD), longitudeDeltaFromMiles(lit(plat), lit(r)))).asInstanceOf[Boolean]
      if (hav < r * 0.95) assert(inEllipse, s"($dlat,$dlng) hav=$hav should be in ellipse")
    }
  }

  // --- hashing ---
  test("polyHash deterministic fold") {
    // "ab" → ((0*31+97)%P*31+98)%P = 97*31+98 = 3105
    assert(eval1(polyHash(lit("ab"))) == 3105L)
    assert(eval1(polyHash(lit(""))) == 0L)
  }
  test("wordShingles") {
    val toks = tokens(lit("a b c d"))
    assert(eval1(wordShingles(toks, 3)).asInstanceOf[scala.collection.Seq[String]].toList == Seq("a b c", "b c d"))
    assert(eval1(wordShingles(tokens(lit("a b")), 3)).asInstanceOf[scala.collection.Seq[String]].toList == Seq("a b"))
  }
}

/** Composed-HOF reference forms of the native text kernels (interpreted),
  * the bit-parity twins the kernels are checked against. */
object FunctionsSpec {

  def tokenWindowsComposed(tk: Column, win: Int): Column =
    when(size(tk) >= win,
      transform(sequence(lit(0), size(tk) - win),
        i => array_join(slice(tk, i + lit(1), lit(win)), " ")))
      .otherwise(array().cast("array<string>"))

  def polyHashComposed(c: Column): Column = {
    // NOT split(c, ""): Java regex split keeps a trailing "" at limit -1,
    // which would fold in a spurious 0. sequence() needs the empty guard
    // because Spark's sequence(1, 0) infers step -1 (yields [1, 0]).
    val codes = when(length(c) === 0, array().cast(ArrayType(LongType)))
      .otherwise(transform(sequence(lit(1), length(c)),
        i => ascii(c.substr(i, lit(1))).cast("long")))
    aggregate(codes, lit(0L), (acc, x) => (acc * 31L + x) % HashMod)
  }
}
