package graft

import graft.taggers.GopherTagger

import org.scalatest.funsuite.AnyFunSuite

/** Exact vectors transcribed from the reference unit tests
  * (/root/reference/tests/python/test_gopher.py:16-304). */
class GopherSpec extends AnyFunSuite {

  private val v1 = new GopherTagger(ignoreEmptyLines = false)

  test("short text: 13 spans with exact scores (test_gopher.py:16-121)") {
    val spans = v1.predict("This is a test.")
    assert(spans.length == 13)
    def score(t: String) = spans.find(_.typ == t).get.score
    assert(spans(0).typ == "fraction_of_characters_in_most_common_2grams")
    assert(score("fraction_of_characters_in_most_common_2grams") == 0.5)
    assert(score("fraction_of_characters_in_most_common_3grams") == 0.5833333333333334)
    assert(score("fraction_of_characters_in_most_common_4grams") == 1.0)
    assert(score("character_count") == 15.0)
    assert(score("word_count") == 4.0)
    assert(score("median_word_length") == 3.0)
    assert(score("symbol_to_word_ratio") == 0.0)
    assert(score("fraction_of_words_with_alpha_character") == 1.0)
    assert(score("required_word_count") == 0.0)
    assert(spans.forall(s => s.start == 0 && s.end == 15))
  }

  test("multiline: 19 spans with exact ngram fractions (test_gopher.py:123-273)") {
    val text = "This is a sentence. \n  \n This is another sentence.\n\n  This is a third sentence."
    val spans = v1.predict(text)
    assert(spans.length == 19)
    def score(t: String) = spans.find(_.typ == t).get.score
    assert(score("fraction_of_characters_in_most_common_2grams") == 0.3050847457627119)
    assert(score("fraction_of_characters_in_most_common_3grams") == 0.23728813559322035)
    assert(score("fraction_of_characters_in_most_common_4grams") == 0.2711864406779661)
    (5 to 10).foreach { n =>
      assert(score(s"fraction_of_characters_in_duplicate_${n}grams") == 0.0)
    }
    assert(score("character_count") == 79.0)
    assert(score("word_count") == 13.0)
    assert(score("median_word_length") == 4.0)
    assert(score("fraction_of_words_with_alpha_character") == 1.0)
  }

  test("word count is whitespace separated (test_gopher.py:276-287)") {
    val spans = v1.predict("T h i s \n    \n\n\n    isoneword !!!")
    assert(spans.find(_.typ == "word_count").get.score == 6.0)
  }

  test("required word count is word-exact (test_gopher.py:289-304)") {
    assert(v1.predict("The.and.that").find(_.typ == "required_word_count").get.score == 0.0)
    assert(v1.predict("The and that").find(_.typ == "required_word_count").get.score == 2.0)
  }

  test("empty text yields zeroed scalar spans") {
    val spans = v1.predict("")
    assert(spans.length == 10)
    assert(spans.forall(_.score == 0.0))
  }

  test("duplicate line fractions (gopher.py:191-197)") {
    val text = "dup\nother\ndup"
    val spans = v1.predict(text)
    def score(t: String) = spans.find(_.typ == t).get.score
    assert(score("fraction_of_duplicate_lines") == 2.0 / 3)
    // character_count denominator = sum of word lengths = 3+5+3 = 11
    assert(score("fraction_of_characters_in_duplicate_lines") == 6.0 / 11)
  }

  test("splitNewlineRuns equals split(\"\\n+\", -1) on fuzzed text") {
    val pool = Vector("a", "bc", " ", "\n", "\n\n", "\n\n\n", "\r", "\u00e9", "\ud83d\ude00")
    val rnd = new scala.util.Random(7L)
    val fuzzed = Iterator.fill(5000)(Iterator.fill(rnd.nextInt(12))(pool(rnd.nextInt(pool.length))).mkString)
    (Iterator("", "\n", "\n\n", "a", "\na", "a\n", "\n\na\n\nb\n\n") ++ fuzzed).foreach { s =>
      assert(GopherTagger.splitNewlineRuns(s).toSeq == s.split("\n+", -1).toSeq, s"text=${s.replace("\n", "\\n")}")
    }
  }

  test("robustMedian: statistics.median, empty is 0.0, input unchanged") {
    assert(GopherTagger.robustMedian(Array.empty[Int]) == 0.0)
    val odd = Array(5, 1, 3)
    assert(GopherTagger.robustMedian(odd) == 3.0)
    assert(odd.toSeq == Seq(5, 1, 3))
    assert(GopherTagger.robustMedian(Array(4, 1, 3, 2)) == 2.5)
  }
}
