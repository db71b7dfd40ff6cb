package graft.core

import scala.collection.mutable.{ArrayBuffer, Builder}

/** A slice of a document (reference `TextSlice`,
  * /root/reference/python/dolma/core/data_types.py:303-318).
  * `start`/`end` are Unicode code points into the parent string (the span
  * offsets); `charStart`/`charEnd` are the same bounds in UTF-16 chars,
  * which the splitters know anyway, so `text` is a plain `substring`.
  */
final case class TextSlice(doc: String, start: Int, end: Int, charStart: Int, charEnd: Int) {
  def text: String = doc.substring(charStart, charEnd)
}

/** Text splitters replicating the reference's Python semantics exactly.
  *
  * - paragraphs: regex `([^\n]*\n|[^\n]+$)`
  *   (/root/reference/python/dolma/core/utils.py:92-98)
  * - pythonSplit: Python `str.split()` — runs of Unicode whitespace,
  *   empties dropped.
  * - splitLines: Python `str.splitlines()` terminator set.
  * - wordTokens / regexSplitCount: the reference word tokenizer
  *   `\w+|[^\w\s]+`, as a linear code-point scanner.
  *
  * All span offsets are code points (see [[CodePoints]]); slices also
  * carry their UTF-16 bounds.
  */
object TextSplit {

  /** Reference `split_paragraphs` (utils.py:92-98). Offsets in code points. */
  def splitParagraphs(text: String, removeEmpty: Boolean = true): Vector[TextSlice] = {
    if (text.isEmpty) return Vector.empty
    val out = Vector.newBuilder[TextSlice]
    // The regex tiles the string: each paragraph is [^\n]*\n or a final
    // [^\n]+$. Walk manually (cheaper than regex and code-point exact).
    val n = text.length
    var i = 0          // utf-16 index
    var cp = 0         // code-point index
    var segStart = 0
    var segStartCp = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\n') {
        i += 1; cp += 1
        addParagraph(out, text, segStart, i, segStartCp, cp, removeEmpty)
        segStart = i
        segStartCp = cp
      } else {
        // advance 2 only over a REAL surrogate pair: a lone high surrogate
        // (malformed UTF-16 from crawl JSON) must not swallow the next
        // char — Python len() counts lone surrogates one each
        i += (if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(text.charAt(i + 1))) 2 else 1)
        cp += 1
      }
    }
    if (i > segStart) addParagraph(out, text, segStart, i, segStartCp, cp, removeEmpty)
    out.result()
  }

  // Python str.strip() whitespace, not String.trim (<= U+0020): an
  // NBSP-only paragraph is EMPTY to the reference and must drop
  private def addParagraph(out: Builder[TextSlice, Vector[TextSlice]],
      text: String, a: Int, b: Int, aCp: Int, bCp: Int, removeEmpty: Boolean): Unit = {
    var k = a
    if (removeEmpty) while (k < b && isPyWhitespace(text.charAt(k))) k += 1
    if (k < b) out += TextSlice(text, aCp, bCp, a, b)
  }

  /** Python `str.split()` — splits on runs of whitespace, drops empties. */
  def pythonSplit(text: String): Array[String] = {
    val out = ArrayBuffer.empty[String]
    val n = text.length
    var i = 0
    var start = -1
    while (i < n) {
      if (isPyWhitespace(text.charAt(i))) {
        if (start >= 0) { out += text.substring(start, i); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) out += text.substring(start, n)
    out.toArray
  }

  /** Python `str.strip()` — strips Unicode whitespace from both ends
    * (String.trim only strips chars <= U+0020, keeping NBSP etc.). */
  def pyStrip(text: String): String = {
    var a = 0
    var b = text.length
    while (a < b && isPyWhitespace(text.charAt(a))) a += 1
    while (b > a && isPyWhitespace(text.charAt(b - 1))) b -= 1
    text.substring(a, b)
  }

  /** Python `str.isspace()`-compatible whitespace test (covers the chars
    * `str.split()` splits on). */
  @inline def isPyWhitespace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') ||
      (c >= '\u001c' && c <= '\u001f') ||
      c == '\u0085' || Character.isSpaceChar(c)

  /** Python `str.splitlines()` (no trailing empty; rich terminator set).
    * Used by the redpajama line stats (code_taggers.py:166). */
  def splitLines(text: String): Array[String] = {
    val out = ArrayBuffer.empty[String]
    val n = text.length
    var i = 0
    var start = 0
    while (i < n) {
      val c = text.charAt(i)
      if (isLineTerminator(c)) {
        out += text.substring(start, i)
        if (c == '\r' && i + 1 < n && text.charAt(i + 1) == '\n') i += 1
        start = i + 1
      }
      i += 1
    }
    if (start < n) out += text.substring(start, n)
    out.toArray
  }

  @inline private def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u000b' || c == '\u000c' ||
      (c >= '\u001c' && c <= '\u001e') || c == '\u0085' ||
      c == '\u2028' || c == '\u2029'

  /** `text.split("\n")` with Python semantics (keeps empties, including a
    * trailing empty after a final newline). */
  def splitNewline(text: String): Array[String] = text.split("\n", -1)

  /** Token classes of the reference word tokenizer `\w+|[^\w\s]+`. */
  private[graft] final val SpaceClass = 0
  private[graft] final val WordClass = 1
  private[graft] final val OtherClass = 2

  /** Class of one code point under `java.util.regex`'s `(?U)` predicates
    * (UNICODE_CHARACTER_CLASS, as the reference's `regex` module and the
    * Rust regex crate are Unicode-aware: ASCII `\w` would split "héllo"
    * into 3 tokens): `\s` is Zs/Zl/Zp, U+0009–U+000D and U+0085; `\w` is
    * Alphabetic, Mn/Me/Mc/Nd/Pc, or the joiners U+200C/U+200D. A lone
    * surrogate is neither, so it is "other". */
  private[graft] def tokenClass(cp: Int): Int = {
    val t = Character.getType(cp)
    if (t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
      t == Character.PARAGRAPH_SEPARATOR || (cp >= 0x9 && cp <= 0xd) || cp == 0x85) SpaceClass
    else if (Character.isAlphabetic(cp) || t == Character.NON_SPACING_MARK ||
      t == Character.ENCLOSING_MARK || t == Character.COMBINING_SPACING_MARK ||
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.CONNECTOR_PUNCTUATION ||
      cp == 0x200c || cp == 0x200d) WordClass
    else OtherClass
  }

  /** [[tokenClass]] of every BMP char, surrogates included (64 KiB). */
  private val BmpClass: Array[Byte] = Array.tabulate(0x10000)(c => tokenClass(c).toByte)

  /** Offsets of the word tokens of one text, filled by [[wordTokenOffsets]]:
    * token k spans code points `starts(k)` until `ends(k)` and UTF-16 chars
    * `charStarts(k)` until `charEnds(k)`. Reusable across texts. */
  final class TokenOffsets {
    var count = 0
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var charStarts = new Array[Int](64)
    var charEnds = new Array[Int](64)

    private[TextSplit] def add(cpStart: Int, cpEnd: Int, charStart: Int, charEnd: Int): Unit = {
      if (count == starts.length) {
        val cap = count * 2
        starts = java.util.Arrays.copyOf(starts, cap)
        ends = java.util.Arrays.copyOf(ends, cap)
        charStarts = java.util.Arrays.copyOf(charStarts, cap)
        charEnds = java.util.Arrays.copyOf(charEnds, cap)
      }
      starts(count) = cpStart
      ends(count) = cpEnd
      charStarts(count) = charStart
      charEnds(count) = charEnd
      count += 1
    }
  }

  /** The reference word tokenizer `\w+|[^\w\s]+`
    * (/root/reference/python/dolma/taggers/code/utils.py:75-76 and
    * src/wimbd/tokens.rs:11-20) as one linear pass over code points: a
    * token is a maximal run of [[WordClass]] or of [[OtherClass]] code
    * points, exactly the regex's leftmost-greedy matches. Counts the
    * tokens and, when `out` is non-null, appends their offsets to it. */
  private def scanTokens(text: String, out: TokenOffsets): Int = {
    val n = text.length
    var count = 0
    var cls = SpaceClass // class of the run being read
    var runStart = 0
    var runStartCp = 0
    var i = 0
    var cp = 0
    while (i < n) {
      val c = text.charAt(i)
      var width = 1
      val k =
        if (Character.isHighSurrogate(c) && i + 1 < n && Character.isLowSurrogate(text.charAt(i + 1))) {
          width = 2
          tokenClass(Character.toCodePoint(c, text.charAt(i + 1)))
        } else BmpClass(c).toInt
      if (k != cls) {
        if (cls != SpaceClass) {
          count += 1
          if (out != null) out.add(runStartCp, cp, runStart, i)
        }
        cls = k
        runStart = i
        runStartCp = cp
      }
      i += width
      cp += 1
    }
    if (cls != SpaceClass) {
      count += 1
      if (out != null) out.add(runStartCp, cp, runStart, n)
    }
    count
  }

  /** Replaces the contents of `out` with the word tokens of `text`. */
  def wordTokenOffsets(text: String, out: TokenOffsets): Unit = {
    out.count = 0
    scanTokens(text, out)
  }

  /** The word tokens of `text` as slices. */
  def wordTokens(text: String): Vector[TextSlice] = {
    val o = new TokenOffsets
    scanTokens(text, o)
    Vector.tabulate(o.count)(k => TextSlice(text, o.starts(k), o.ends(k), o.charStarts(k), o.charEnds(k)))
  }

  /** Python `re.split(pattern, text)` semantics for the whitespace tokenizer
    * family: `len(regex.split(text))` counts segments BETWEEN matches,
    * including leading/trailing empties (length.py:58-64), i.e. the
    * number of tokens + 1. */
  def regexSplitCount(text: String): Int = scanTokens(text, null) + 1

  /** UAX-29 word segmentation via ICU (the same BreakIterator
    * UnisegLengthV1 uses — uniseg, the reference library, implements the
    * same annex), counting only segments with a non-whitespace char:
    * uniseg_length_paragraphs_v1 (length.py:94-96). A hand-rolled
    * letters/digits splitter breaks "don't" into 4 segments and "3.14"
    * into 3 where UAX-29 keeps ALetter×MidNumLetQ×ALetter and
    * Numeric×MidNumLetQ×Numeric together. */
  def unisegWordCount(text: String): Int = {
    if (text.isEmpty) return 0
    val bi = com.ibm.icu.text.BreakIterator.getWordInstance(java.util.Locale.ROOT)
    bi.setText(text)
    var count = 0
    var start = bi.first()
    var end = bi.next()
    while (end != com.ibm.icu.text.BreakIterator.DONE) {
      var i = start
      var nonWs = false
      while (i < end && !nonWs) {
        if (!isPyWhitespace(text.charAt(i))) nonWs = true
        i += 1
      }
      if (nonWs) count += 1
      start = end
      end = bi.next()
    }
    count
  }
}
