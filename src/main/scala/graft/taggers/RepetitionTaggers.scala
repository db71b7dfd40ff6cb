package graft.taggers

import graft.core.{CodePoints, Span, TextSplit}

import java.util.regex.Pattern
import scala.collection.mutable.{ArrayBuffer, Builder}

/** Repetition detectors
  * (/root/reference/python/dolma/taggers/repetitions/).
  *
  * - `repetitions_v1`: regex `(.+?)(\s?\1){3,}` char repetitions, score =
  *   non-overlapping count of the repeated unit in the match
  *   (repetitions_taggers.py:61-81).
  * - `tokenizer_repetitions_v1`: periodic token sequences with period
  *   1..13 repeating ≥3 times (utils.py:40-118 numpy reshape algorithm,
  *   ported to plain loops). The reference tokenizes with an HF BPE
  *   (offline here); we tokenize with the `\w+|[^\w\s]+` word tokenizer and
  *   give each distinct token text an exact per-document id (equal ids iff
  *   equal text) — span offsets are token-boundary exact either way.
  * - doc rollups doc_max_score / doc_max_length / doc_frac
  *   (repetitions_taggers.py:31-50).
  */
object RepetitionTaggers {

  final case class Periodic(start: Int, end: Int, period: Int, times: Int)

  /** Port of find_periodic_sequences (utils.py:40-118). `arr` must not
    * contain Int.MinValue (used as the pad mask). */
  def findPeriodicSequences(arr: Array[Int], maxPeriod: Int, minPeriod: Int = 1): Vector[Periodic] = {
    val out = Vector.newBuilder[Periodic]
    val maxP = math.min(maxPeriod, arr.length / 3)
    if (minPeriod <= maxP) {
      // one row mask for every period: the first period has the most rows
      val rowAllEq = new Array[Boolean](arr.length / minPeriod + 1)
      var period = minPeriod
      while (period <= maxP) {
        addPeriodic(arr, period, rowAllEq, out)
        period += 1
      }
    }
    out.result()
  }

  /** The runs of one period (the loop body of utils.py:62-116). */
  private def addPeriodic(arr: Array[Int], period: Int, rowAllEq: Array[Boolean],
      out: Builder[Periodic, Vector[Periodic]]): Unit = {
    val n = arr.length
    // np.pad adds `period - (len % period)` mask cells (utils.py:74) —
    // a FULL mask row when the period divides the length. That row is
    // what np.roll wraps row 0 onto, so row 0 can never match its
    // "previous" row; wrapping onto the last DATA row instead produced
    // false repetition spans ([1,2,1,2] must emit nothing) and
    // +1-inflated times ([7,7,7] is 3 times, not 4).
    val rows = n / period + 1
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < period && cellEq(arr, period, rows, r, c)) c += 1
      rowAllEq(r) = c == period
      r += 1
    }
    // group consecutive all-equal rows
    var i = 0
    while (i < rows) {
      if (rowAllEq(i)) {
        var j = i
        while (j + 1 < rows && rowAllEq(j + 1)) j += 1
        val startRow = i
        val endRow = j
        // trailing-True run of the row before the group (wraps like
        // Python negative indexing for startRow == 0)
        val prevRow = (startRow - 1 + rows) % rows
        val so0 = lastTrueRunStart(period, c => cellEq(arr, period, rows, prevRow, c))
        val startOffset = if (so0 > 0) period - so0 else 0
        // leading-True run of the row after the group
        val endOffset =
          if (endRow + 1 < rows) leadingTrueRun(period, c => cellEq(arr, period, rows, endRow + 1, c))
          else 0
        val startPos = (startRow - 1) * period - startOffset
        val endPos = (endRow + 1) * period + endOffset
        val times = (endPos - startPos) / period
        if (times > 2)
          out += Periodic(math.max(0, startPos), math.min(n, endPos), period, times)
        i = j + 1
      } else i += 1
    }
  }

  /** Cell (r, c) of the reference's equality matrix: the padded array,
    * reshaped to `rows` × `period`, equals itself rolled down one row
    * (np.roll wraps row 0 onto the last row). Pad cells are a mask that
    * no token id equals. */
  @inline private def cellEq(arr: Array[Int], period: Int, rows: Int, r: Int, c: Int): Boolean = {
    val i = r * period + c
    val j = if (r == 0) (rows - 1) * period + c else i - period
    val a = if (i < arr.length) arr(i) else Int.MinValue
    val b = if (j < arr.length) arr(j) else Int.MinValue
    a == b
  }

  /** Length of the leading True run (utils.py:6-17). */
  def endFirstConsecutiveTrue(a: Array[Boolean]): Int = leadingTrueRun(a.length, a(_))

  /** Start index of the trailing True run, -1 if none (utils.py:20-23). */
  def startLastConsecutiveTrue(a: Array[Boolean]): Int = lastTrueRunStart(a.length, a(_))

  private def leadingTrueRun(len: Int, p: Int => Boolean): Int = {
    var i = 0
    while (i < len && p(i)) i += 1
    i
  }

  private def lastTrueRunStart(len: Int, p: Int => Boolean): Int = {
    var i = len - 1
    while (i >= 0 && p(i)) i -= 1
    if (i < len - 1) i + 1 else -1
  }

  // UNIX_LINES: Python '.' excludes only \n (Java default also excludes
  // \r/\u0085/\u2028/\u2029, missing repetitions whose unit spans a CR);
  // UNICODE_CHARACTER_CLASS: Python \s is Unicode
  private val CharRepRe = Pattern.compile("(.+?)(\\s?\\1){3,}",
    Pattern.UNIX_LINES | Pattern.UNICODE_CHARACTER_CLASS)

  /** Char-repetition spans of one text (repetitions_taggers.py:75-81). */
  private def extractCharReps(text: String): Vector[Span] = {
    val bmp = CodePoints.isBmpOnly(text)
    def cp(i: Int): Long =
      if (bmp) i.toLong else CodePoints.charToCodePointIndex(text, i).toLong
    val found = ArrayBuffer.empty[Span]
    val m = CharRepRe.matcher(text)
    while (m.find()) {
      val unit = m.group(1)
      val whole = m.group(0)
      // Python str.count: non-overlapping occurrences
      var count = 0; var idx = whole.indexOf(unit)
      while (idx >= 0) { count += 1; idx = whole.indexOf(unit, idx + unit.length) }
      found += Span(cp(m.start), cp(m.end), "repetition", count.toDouble)
    }
    found.toVector
  }

  final class CharRepetitionsTagger extends Tagger {
    val name = "repetitions_v1"
    def predict(text: String, meta: Map[String, String]): Vector[Span] =
      withDocStats(extractCharReps(text), text)
  }

  /** paragraph_repetitions_v1 (repetitions_taggers.py:84-97): the char
    * regex per paragraph (remove_empty=False), spans shifted by the
    * paragraph's code-point offset. Faster than whole-doc (the lazy
    * backtracking regex is super-linear in input length) but blind to
    * repetitions spanning a paragraph break. */
  final class ParagraphCharRepetitionsTagger extends Tagger {
    val name = "paragraph_repetitions_v1"
    def predict(text: String, meta: Map[String, String]): Vector[Span] = {
      val spans = Vector.newBuilder[Span]
      TextSplit.splitParagraphs(text, removeEmpty = false).foreach { p =>
        extractCharReps(p.text).foreach(s =>
          spans += s.copy(start = s.start + p.start, end = s.end + p.start))
      }
      withDocStats(spans.result(), text)
    }
  }

  /** Periodic token sequences over one text slice (the shared
    * `_extract_from_text` of repetitions_taggers.py:100-126). */
  private def extractTokenReps(text: String): Vector[Span] = {
    val sc = tokenScratch.get()
    val tokens = sc.tokens
    TextSplit.wordTokenOffsets(text, tokens)
    if (tokens.count == 0) return Vector.empty
    val seqs = findPeriodicSequences(sc.tokenIds(text), maxPeriod = 13, minPeriod = 1)
    seqs.map { s =>
      Span(tokens.starts(s.start), tokens.ends(s.end - 1), "repetition", s.times.toDouble)
    }
  }

  /** Per-thread scratch of the token-repetition pass: the token offsets of
    * the current text and an open-addressing table from token text to id,
    * probed with `regionMatches`, so no token substring is built. */
  private final class TokenScratch {
    val tokens = new TextSplit.TokenOffsets
    private var firstToken = new Array[Int](256) // 1 + index of the id's first token; 0 = empty
    private var slotHash = new Array[Int](256)

    /** Exact per-text ids of `tokens`: two tokens get the same id iff
      * their texts are equal. Ids are dense, in order of first sighting. */
    def tokenIds(text: String): Array[Int] = {
      val m = tokens.count
      val starts = tokens.charStarts
      val ends = tokens.charEnds
      var cap = 256
      while (cap < m * 2) cap *= 2
      if (firstToken.length < cap) {
        firstToken = new Array[Int](cap)
        slotHash = new Array[Int](cap)
      } else java.util.Arrays.fill(firstToken, 0, cap, 0)
      val ids = new Array[Int](m)
      var nextId = 0
      var k = 0
      while (k < m) {
        val a = starts(k)
        val len = ends(k) - a
        var h = 0
        var q = a
        while (q < a + len) { h = 31 * h + text.charAt(q); q += 1 }
        var slot = scala.util.hashing.byteswap32(h) & (cap - 1)
        var found = false
        while (!found) {
          val f = firstToken(slot)
          if (f == 0) {
            firstToken(slot) = k + 1
            slotHash(slot) = h
            ids(k) = nextId
            nextId += 1
            found = true
          } else {
            val o = f - 1
            if (slotHash(slot) == h && ends(o) - starts(o) == len &&
              text.regionMatches(starts(o), text, a, len)) {
              ids(k) = ids(o)
              found = true
            } else slot = (slot + 1) & (cap - 1)
          }
        }
        k += 1
      }
      ids
    }
  }

  private val tokenScratch: ThreadLocal[TokenScratch] =
    ThreadLocal.withInitial(() => new TokenScratch)

  /** Periodic token sequences, three reference variants:
    * - `tokenizer_repetitions_v1` (repetitions_taggers.py:100-126): raw
    *   spans, stats always.
    * - `paragraph_tokenizer_repetitions_v1` (129-144): per paragraph with
    *   the " "-prefix offset trick, stats always.
    * - `tokenizer_repetitions_v2r2` (147-174): overlap-dedup of contained
    *   spans, 100k-char chunking, no stats when empty. */
  final class TokenRepetitionsTagger(
      val name: String = "tokenizer_repetitions_v2r2",
      emitStatsWhenEmpty: Boolean = false,
      overlapDedup: Boolean = true,
      chunked: Boolean = true,
      perParagraph: Boolean = false) extends Tagger {
    private val MaxChunk = 100000

    private def extractChunk(text: String): Vector[Span] = {
      val spans = extractTokenReps(text)
      if (!overlapDedup) return spans
      // overlap-dedup: sort by (start, -end, -score), skip contained
      val sorted = spans.sortBy(s => (s.start, -s.end, -s.score))
      var prevStart = -1L; var prevEnd = -1L
      val out = Vector.newBuilder[Span]
      sorted.foreach { s =>
        if (!(s.start >= prevStart && s.end <= prevEnd)) {
          prevStart = s.start; prevEnd = s.end
          out += s
        }
      }
      out.result()
    }

    def predict(text: String, meta: Map[String, String]): Vector[Span] = {
      val n = CodePoints.length(text)
      val found = Vector.newBuilder[Span]
      if (perParagraph) {
        // " " prefix keeps the first token's id stable across paragraph
        // boundaries (repetitions_taggers.py:135-141); spans shift by -1
        TextSplit.splitParagraphs(text, removeEmpty = false).foreach { p =>
          extractChunk(" " + p.text).foreach(s =>
            found += s.copy(start = s.start + p.start - 1, end = s.end + p.start - 1))
        }
      } else if (chunked) {
        var off = 0
        while (off < n) {
          val chunk = CodePoints.slice(text, off, off + MaxChunk)
          extractChunk(chunk).foreach(s =>
            found += s.copy(start = s.start + off, end = s.end + off))
          off += MaxChunk
        }
      } else {
        found ++= extractChunk(text)
      }
      val spans = found.result()
      if (spans.isEmpty && !emitStatsWhenEmpty) Vector.empty
      else withDocStats(spans, text)
    }
  }

  /** Doc rollups (repetitions_taggers.py:31-50). */
  private def withDocStats(spans: Vector[Span], text: String): Vector[Span] = {
    val n = CodePoints.length(text)
    val maxScore = if (spans.nonEmpty) spans.map(_.score).max else 0.0
    val maxLen = if (spans.nonEmpty) spans.map(s => s.end - s.start).max.toDouble else 0.0
    val frac =
      if (spans.nonEmpty && n > 0) spans.map(s => s.end - s.start).sum.toDouble / n else 0.0
    spans ++ Vector(
      Span(0, n, "doc_max_score_repetition", maxScore),
      Span(0, n, "doc_max_length_repetition", maxLen),
      Span(0, n, "doc_frac_repetition", frac))
  }

  def registerAll(): Unit = {
    TaggerRegistry.register("repetitions_v1")(new CharRepetitionsTagger)
    TaggerRegistry.register("paragraph_repetitions_v1")(new ParagraphCharRepetitionsTagger)
    TaggerRegistry.register("tokenizer_repetitions_v1")(new TokenRepetitionsTagger(
      "tokenizer_repetitions_v1", emitStatsWhenEmpty = true,
      overlapDedup = false, chunked = false))
    TaggerRegistry.register("paragraph_tokenizer_repetitions_v1")(new TokenRepetitionsTagger(
      "paragraph_tokenizer_repetitions_v1", emitStatsWhenEmpty = true,
      overlapDedup = false, chunked = false, perParagraph = true))
    TaggerRegistry.register("tokenizer_repetitions_v2r2")(new TokenRepetitionsTagger())
  }
}
