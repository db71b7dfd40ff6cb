package graft

import graft.core.{CodePoints, TextSplit}
import graft.functions.SpanScrubber
import graft.functions.SpanScrubber.Replacement

import org.scalatest.funsuite.AnyFunSuite

class CoreSpec extends AnyFunSuite {

  test("roundScore matches Python round() on shortest-repr tie values") {
    // Python half-even-rounds the exact binary double; a string-repr
    // BigDecimal lands on artificial decimal ties (1/320 prints as
    // "0.003125" but is stored fractionally above). Expected values
    // generated by CPython round(a/b, 5).
    val vectors = Seq(
      (1.0 / 320, 0.00313), (3.0 / 320, 0.00937), (7.0 / 320, 0.02187),
      (9.0 / 320, 0.02813), (11.0 / 320, 0.03438),
      (1.0 / 3, 0.33333), (2.0 / 3, 0.66667), (1.0 / 7, 0.14286),
      (5.0 / 160, 0.03125), (1.0 / 64, 0.01562))
    vectors.foreach { case (v, want) =>
      assert(graft.core.Attributes.roundScore(v) == want, s"round($v)")
    }
    assert(graft.core.Attributes.roundScore(Double.NaN).isNaN)
  }

  test("code point length and slice handle surrogate pairs") {
    val s = "a😀b" // a😀b — 3 code points, 4 chars
    assert(CodePoints.length(s) == 3)
    assert(CodePoints.slice(s, 1, 2) == "😀")
    assert(CodePoints.slice(s, 0, 3) == s)
    assert(CodePoints.slice(s, 2, 99) == "b")
  }

  test("pythonSplit matches Python str.split()") {
    assert(TextSplit.pythonSplit("This is a test.").toSeq == Seq("This", "is", "a", "test."))
    assert(TextSplit.pythonSplit("  a\t\nb  ").toSeq == Seq("a", "b"))
    assert(TextSplit.pythonSplit("").isEmpty)
    assert(TextSplit.pythonSplit(" \n\t ").isEmpty)
    // gopher word-count vector (test_gopher.py:280-287)
    assert(TextSplit.pythonSplit("T h i s \n    \n\n\n    isoneword !!!").length == 6)
  }

  test("splitParagraphs replicates dolma split_paragraphs (utils.py:92-98)") {
    val text = "para one\n\npara two\nlast"
    val paras = TextSplit.splitParagraphs(text)
    assert(paras.map(_.text) == Vector("para one\n", "para two\n", "last"))
    assert(paras.map(p => (p.start, p.end)) == Vector((0, 9), (10, 19), (19, 23)))
    val withEmpty = TextSplit.splitParagraphs(text, removeEmpty = false)
    assert(withEmpty.map(_.text) == Vector("para one\n", "\n", "para two\n", "last"))
  }

  // the regex the code-point scanner replaced, kept here as its oracle
  private val WordTokenOracle = "(?U)[\\w]+|[^\\w\\s]+".r

  test("token scanner classifies every code point as (?U)\\s / (?U)\\w do") {
    val ws = java.util.regex.Pattern.compile("(?U)\\s").matcher("")
    val w = java.util.regex.Pattern.compile("(?U)\\w").matcher("")
    // the scanner's class, read through the scanner itself: a space makes
    // no token; a word char joins a leading "a" into one token
    def scanned(s: String): Int =
      if (TextSplit.regexSplitCount(s) == 1) TextSplit.SpaceClass
      else if (TextSplit.regexSplitCount("a" + s) == 2) TextSplit.WordClass
      else TextSplit.OtherClass
    var mismatches = Vector.empty[Int]
    var cp = 0
    while (cp <= Character.MAX_CODE_POINT) {
      // a lone surrogate (U+D800..U+DFFF) is one char, as in malformed UTF-16
      val s = new String(Character.toChars(cp))
      val isSpace = ws.reset(s).matches()
      val isWord = w.reset(s).matches()
      assert(!(isSpace && isWord))
      val want =
        if (isSpace) TextSplit.SpaceClass else if (isWord) TextSplit.WordClass else TextSplit.OtherClass
      if (scanned(s) != want || TextSplit.tokenClass(cp) != want) mismatches :+= cp
      cp += 1
    }
    assert(mismatches.isEmpty, mismatches.take(20).map(c => f"U+$c%04X").mkString(", "))
  }

  test("wordTokens and regexSplitCount equal the \\w+|[^\\w\\s]+ regex on fuzzed text") {
    val pool = Vector("a", "Z", "7", "_", " ", "  ", "\t", "\n", "\r\n", ".", ",", "!?", "-", "'",
      "é", "e\u0301", "\u0301", "\u0e31", "\u00a0", "\u0085", "\u2028", "\u3000", "\u200c",
      "\u200d", "\u00b2", "\u2160", "\u0660", "\u05d0", "\u4e2d", "\uff3f", "\ud835\udc00",
      "\ud835\udfce", "\ud83d\ude00", "\ud800", "\udc00", "\udc00\ud800", "\u001c")
    val rnd = new scala.util.Random(20261017L)
    (0 until 20000).foreach { _ =>
      val s = Iterator.fill(rnd.nextInt(24))(pool(rnd.nextInt(pool.length))).mkString
      val want = WordTokenOracle.findAllMatchIn(s).map { m =>
        (s.codePointCount(0, m.start), s.codePointCount(0, m.end), m.start, m.end, m.matched)
      }.toVector
      val got = TextSplit.wordTokens(s).map(t => (t.start, t.end, t.charStart, t.charEnd, t.text))
      assert(got == want, s"text=${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      assert(TextSplit.regexSplitCount(s) == want.length + 1)
    }
  }

  test("slices of astral text: .text equals the code-point slice") {
    val doc = "\ud83d\ude00 first para. Next \ud835\udc00\ud835\udc01 one!\n\n" +
      "\u00a0\n\ud83d\ude00\ud83d\ude00 e\u0301t\u00e9 \u4e2d\u6587.\nlast \ud83d\ude00"
    val sliceSets = Seq(
      "splitParagraphs" -> TextSplit.splitParagraphs(doc),
      "splitParagraphs(removeEmpty = false)" -> TextSplit.splitParagraphs(doc, removeEmpty = false),
      "wordTokens" -> TextSplit.wordTokens(doc),
      "Sentences.split" -> graft.core.Sentences.split(doc))
    sliceSets.foreach { case (what, slices) =>
      assert(slices.length > 2, what)
      slices.foreach { t =>
        assert(t.text == CodePoints.slice(doc, t.start, t.end), s"$what $t")
        assert(CodePoints.length(t.text) == t.end - t.start, s"$what $t")
      }
    }
    // the NBSP-only paragraph is blank to Python's str.strip()
    assert(TextSplit.splitParagraphs(doc).length ==
      TextSplit.splitParagraphs(doc, removeEmpty = false).length - 2)
  }

  test("splitLines matches Python splitlines") {
    assert(TextSplit.splitLines("a\nb\n").toSeq == Seq("a", "b"))
    assert(TextSplit.splitLines("a\r\nb").toSeq == Seq("a", "b"))
    assert(TextSplit.splitLines("").isEmpty)
    assert(TextSplit.splitLines("x").toSeq == Seq("x"))
  }

  test("scrub: single span with template") {
    assert(SpanScrubber.scrub("hello world", Seq(Replacement(0, 5, "[X]"))) == "[X] world")
    assert(SpanScrubber.scrub("hello world", Seq(Replacement(6, 11, ""))) == "hello ")
  }

  test("scrub: {} substitutes original span text (shard.rs:400-410)") {
    val out = SpanScrubber.scrub("email me@x.com now",
      Seq(Replacement(6, 14, "[B]{}[E]")))
    assert(out == "email [B]me@x.com[E] now")
  }

  test("scrub: nested/overlapping spans collapse into the first (shard.rs:412)") {
    val out = SpanScrubber.scrub("abcdefghij",
      Seq(Replacement(2, 8, "X"), Replacement(4, 6, "Y")))
    assert(out == "abXij")
  }

  test("scrub: span reaching EOF flushed at end (shard.rs:432-441)") {
    assert(SpanScrubber.scrub("abcdef", Seq(Replacement(3, 6, "[T]"))) == "abc[T]")
    assert(SpanScrubber.scrub("abcdef", Seq(Replacement(3, 6, "{}!"))) == "abcdef!")
  }

  test("scrub: adjacent spans both applied") {
    val out = SpanScrubber.scrub("aabbcc",
      Seq(Replacement(0, 2, "1"), Replacement(2, 4, "2"), Replacement(4, 6, "3")))
    assert(out == "123")
  }

  test("scrub: code-point offsets with astral chars") {
    val text = "x😀y mail a@b.co z" // offsets in code points
    // span covers "a@b.co" = code points 9..15
    val out = SpanScrubber.scrub(text, Seq(Replacement(9, 15, "[E]")))
    assert(out == "x😀y mail [E] z")
  }

  test("scrub: empty replacement drops text entirely") {
    assert(SpanScrubber.scrub("abc", Seq(Replacement(0, 3, ""))) == "")
  }

  test("attribute name mangling (runtime.py:214-217)") {
    assert(graft.core.Attributes.mangle("exp", "gopher_v2", "word count!") ==
      "exp__gopher_v2__word_count_")
  }

  test("whitespace_tokenizer_with_paragraphs_v1: per-paragraph counts + doc rollup (length.py:67-75)") {
    val t = graft.taggers.TaggerRegistry.resolve("whitespace_tokenizer_with_paragraphs_v1")
    val spans = t.predict("This is a test.\nsecond line here")
    val paras = spans.filter(_.typ == "paragraph")
    val doc = spans.filter(_.typ == "document")
    assert(paras.length == 2)
    // re.split(r"\w+|[^\w\s]+") segment counts: "This is a test." -> 6
    // ("", " ", " ", " ", "", "") ... matches whitespace_tokenizer_v1 on
    // the same text
    val whole = graft.taggers.TaggerRegistry.resolve("whitespace_tokenizer_v1")
    assert(paras.head.score == whole.predict("This is a test.").head.score)
    assert(doc.length == 1 && doc.head.score == paras.map(_.score).sum)
  }

  test("olmo_pretokenizer_v1: piece counts (length.py:124-148, hand-derived)") {
    val t = graft.taggers.TaggerRegistry.resolve("olmo_pretokenizer_v1")
    def n(s: String) = t.predict(s).head.score
    // "Hello, world 42!": punct-isolate -> [Hello][,][ world 42][!];
    // digit-isolate -> [ world][ 4][2]; GPT-2 regex leaves each whole
    assert(n("Hello, world 42!") == 6.0)
    // apostrophe is isolated by the punct split BEFORE the GPT-2
    // contraction alternatives can see it: [don]['][t stop] -> 1+1+2
    assert(n("don't stop") == 4.0)
    assert(n("") == 0.0)
    assert(n("abc") == 1.0)
    // GPT-2 whitespace lookahead: "a  b" -> [a][ ][ b]
    assert(n("a  b") == 3.0)
    // digits split one-per-piece: "2024" -> [2][0][2][4]
    assert(n("2024") == 4.0)
  }

  test("olmo_pretokenizer_with_paragraphs_v1: per-paragraph + doc rollup (length.py:150-160)") {
    val t = graft.taggers.TaggerRegistry.resolve("olmo_pretokenizer_with_paragraphs_v1")
    val spans = t.predict("Hello, world 42!\nabc def")
    val paras = spans.filter(_.typ == "paragraph")
    val doc = spans.filter(_.typ == "document")
    // paragraph 1 keeps its trailing newline (split_paragraphs regex), so
    // the "\n" piece adds one: 6 + 1; paragraph 2 = "abc def" -> 2
    assert(paras.map(_.score) == Vector(7.0, 2.0))
    assert(doc.length == 1 && doc.head.score == 9.0)
  }
}
