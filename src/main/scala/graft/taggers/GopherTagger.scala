package graft.taggers

import graft.core.{CodePoints, Span, TextSplit}

import scala.collection.mutable

/** Gopher quality heuristics
  * (/root/reference/python/dolma/taggers/gopher.py:125-233): 13 attributes
  * per document covering word stats, n-gram repetition fractions, and line
  * duplication. Exact float semantics preserved (robust_median at
  * gopher.py:18-21; character_count = sum of word lengths for n-gram
  * fractions, gopher.py:146).
  */
final class GopherTagger(ignoreEmptyLines: Boolean) extends Tagger {
  val name: String = if (ignoreEmptyLines) "gopher_v2" else "gopher_v1"

  // SYMBOLS = {"#", "…"}; BULLET_POINTS = {"*", "-"} (gopher.py:13-15)
  private val RequiredWords =
    Set("the", "be", "to", "of", "and", "that", "have", "with")

  def predict(text: String, meta: Map[String, String]): Vector[Span] = {
    val charCount = CodePoints.length(text)
    if (charCount == 0) return Vector(
      Span(0, 0, "character_count", 0.0),
      Span(0, 0, "word_count", 0.0),
      Span(0, 0, "median_word_length", 0.0),
      Span(0, 0, "symbol_to_word_ratio", 0.0),
      Span(0, 0, "fraction_of_words_with_alpha_character", 0.0),
      Span(0, 0, "required_word_count", 0.0),
      Span(0, 0, "fraction_of_lines_starting_with_bullet_point", 0.0),
      Span(0, 0, "fraction_of_lines_ending_with_ellipsis", 0.0),
      Span(0, 0, "fraction_of_duplicate_lines", 0.0),
      Span(0, 0, "fraction_of_characters_in_duplicate_lines", 0.0))

    val words = TextSplit.pythonSplit(text)
    val wordCount = words.length
    val wordLens = words.map(CodePoints.length)
    val characterCount = wordLens.sum // sum of word lengths (gopher.py:142)

    val medianWordLength = GopherTagger.robustMedian(wordLens)
    val symbolWords = words.count(w => w.exists(c => c == '#' || c == '…'))
    val symbolToWordRatio = symbolWords.toDouble / math.max(wordCount, 1)
    val alphaWords = words.count(_.exists(Character.isLetter))
    val fracAlpha = alphaWords.toDouble / math.max(wordCount, 1)
    val requiredCount = words.count(RequiredWords.contains)

    val spans = Vector.newBuilder[Span]

    // n-gram fractions (gopher.py:147-176): n in 2..10; {2,3,4} = fraction
    // of chars in MOST COMMON n-gram, {5..10} = fraction in DUPLICATE
    // n-grams (denominator = total n-gram chars). N-grams are keyed by a
    // 64-bit rolling polynomial hash over per-word FNV hashes (window
    // hash = prefix(i+n) - prefix(i)·P^n mod 2^64 — one mul+sub per gram
    // instead of n mul-adds; collision probability negligible at document
    // scale), counted in a reusable generation-stamped open-addressing
    // map — the tuple-keyed Counter the reference uses allocates per
    // position and per n, which stalls 32-thread throughput on cache/GC
    // traffic.
    val sc = GopherTagger.scratch.get()
    sc.sizeFor(wordCount)
    val hashPrefix = sc.hashPrefix
    val lenPrefix = sc.lenPrefix
    hashPrefix(0) = 0L
    lenPrefix(0) = 0
    var wi = 0
    while (wi < wordCount) {
      var h = 0xcbf29ce484222325L
      val w = words(wi)
      var ci = 0
      while (ci < w.length) { h ^= w.charAt(ci).toLong; h *= 0x100000001b3L; ci += 1 }
      hashPrefix(wi + 1) = hashPrefix(wi) * GopherTagger.P + h
      lenPrefix(wi + 1) = lenPrefix(wi) + wordLens(wi)
      wi += 1
    }

    var n = 2
    while (n <= 10) {
      if (wordCount >= n) {
        val numGrams = wordCount - n + 1
        // one map pass: value packs (firstPos << 32 | count); firstPos
        // gives both the first-seen tie-break and the char sum
        sc.reset(numGrams)
        val pn = GopherTagger.Pow(n)
        var i = 0
        while (i < numGrams) {
          sc.bump(hashPrefix(i + n) - hashPrefix(i) * pn, i)
          i += 1
        }
        @inline def gramChars(pos: Int): Int = lenPrefix(pos + n) - lenPrefix(pos)
        if (n <= 4) {
          // most_common(1) breaks ties by insertion order (first seen wins)
          var bestCount = -1L
          var bestPos = Int.MaxValue
          sc.foreachValue { v =>
            val c = v & 0xffffffffL
            val pos = (v >>> 32).toInt
            if (c > bestCount || (c == bestCount && pos < bestPos)) {
              bestCount = c; bestPos = pos
            }
          }
          val value = bestCount.toDouble * gramChars(bestPos) / math.max(characterCount, 1)
          spans += Span(0, charCount, s"fraction_of_characters_in_most_common_${n}grams", value)
        } else {
          var totalChars = 0L
          var dupChars = 0L
          sc.foreachValue { v =>
            val c = v & 0xffffffffL
            val chars = c * gramChars((v >>> 32).toInt)
            totalChars += chars
            if (c > 1) dupChars += chars
          }
          val value = dupChars.toDouble / math.max(totalChars, 1L)
          spans += Span(0, charCount, s"fraction_of_characters_in_duplicate_${n}grams", value)
        }
      }
      n += 1
    }

    // line stats (gopher.py:177-197); v2 splits on \n+ (keeps boundary
    // empties like Python re.split), v1 on single \n.
    val lines: Array[String] =
      if (ignoreEmptyLines) GopherTagger.splitNewlineRuns(text)
      else TextSplit.splitNewline(text)
    val lineCount = lines.length
    val bulletFrac = lines.count(l => l.startsWith("*") || l.startsWith("-")).toDouble /
      math.max(lineCount, 1)
    val ellipsisFrac = lines.count(_.endsWith("…")).toDouble / math.max(lineCount, 1)

    val lineCounts = mutable.HashMap.empty[String, Int]
    lines.foreach(l => lineCounts.update(l, lineCounts.getOrElse(l, 0) + 1))
    var dupLines = 0
    var dupLineChars = 0L
    lineCounts.foreach { case (l, c) =>
      if (c > 1) { dupLines += c; dupLineChars += c.toLong * CodePoints.length(l) }
    }
    val fracDupLines = dupLines.toDouble / math.max(lineCount, 1)
    val fracCharsDupLines = dupLineChars.toDouble / math.max(characterCount, 1)

    spans += Span(0, charCount, "character_count", charCount.toDouble)
    spans += Span(0, charCount, "word_count", wordCount.toDouble)
    spans += Span(0, charCount, "median_word_length", medianWordLength)
    spans += Span(0, charCount, "symbol_to_word_ratio", symbolToWordRatio)
    spans += Span(0, charCount, "fraction_of_words_with_alpha_character", fracAlpha)
    spans += Span(0, charCount, "required_word_count", requiredCount.toDouble)
    spans += Span(0, charCount, "fraction_of_lines_starting_with_bullet_point", bulletFrac)
    spans += Span(0, charCount, "fraction_of_lines_ending_with_ellipsis", ellipsisFrac)
    spans += Span(0, charCount, "fraction_of_duplicate_lines", fracDupLines)
    spans += Span(0, charCount, "fraction_of_characters_in_duplicate_lines", fracCharsDupLines)
    spans.result()
  }
}

object GopherTagger {

  /** Rolling-hash multiplier (FNV prime) and its powers for n ≤ 10. */
  private[taggers] val P = 0x100000001b3L
  private[taggers] val Pow: Array[Long] = {
    val a = new Array[Long](11)
    a(0) = 1L
    (1 to 10).foreach(i => a(i) = a(i - 1) * P)
    a
  }

  /** Per-thread scratch: prefix arrays + an open-addressing long→packed
    * map with generation stamps, so the 9 n-gram passes per document do
    * zero heap allocation in steady state. */
  private[taggers] final class Scratch {
    var hashPrefix = new Array[Long](1024)
    var lenPrefix = new Array[Int](1024)
    private var cap = 2048 // power of two, ≥ 2× entries
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var stamps = new Array[Int](cap)
    private var order = new Array[Int](cap)
    private var nEntries = 0
    private var gen = 0

    def sizeFor(wordCount: Int): Unit =
      if (hashPrefix.length < wordCount + 1) {
        val sz = Integer.highestOneBit(wordCount + 1) * 2
        hashPrefix = new Array[Long](sz)
        lenPrefix = new Array[Int](sz)
      }

    def reset(entries: Int): Unit = {
      var need = cap
      while (need < entries * 2) need *= 2
      if (need > cap) {
        cap = need
        keys = new Array[Long](cap)
        vals = new Array[Long](cap)
        stamps = new Array[Int](cap)
        order = new Array[Int](cap)
        gen = 0
      }
      gen += 1
      nEntries = 0
    }

    /** Increment key's count; record firstPos on first sighting. */
    def bump(key: Long, pos: Int): Unit = {
      var idx = (scala.util.hashing.byteswap64(key) & (cap - 1)).toInt
      while (true) {
        if (stamps(idx) != gen) {
          stamps(idx) = gen
          keys(idx) = key
          vals(idx) = (pos.toLong << 32) | 1L
          order(nEntries) = idx
          nEntries += 1
          return
        } else if (keys(idx) == key) {
          vals(idx) += 1L
          return
        } else idx = (idx + 1) & (cap - 1)
      }
    }

    @inline def foreachValue(f: Long => Unit): Unit = {
      var i = 0
      while (i < nEntries) {
        f(vals(order(i)))
        i += 1
      }
    }
  }

  private[taggers] val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  /** statistics.median with empty→0.0 (gopher.py:18-21); sorts a copy. */
  def robustMedian(values: Array[Int]): Double = {
    val n = values.length
    if (n == 0) return 0.0
    val sorted = values.clone()
    java.util.Arrays.sort(sorted)
    if (n % 2 == 1) sorted(n / 2).toDouble
    else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
  }

  /** Python `re.split(r"\n+", text)`: empties only at boundaries. */
  def splitNewlineRuns(text: String): Array[String] = {
    val out = Array.newBuilder[String]
    val n = text.length
    var start = 0
    var i = 0
    while (i < n) {
      if (text.charAt(i) == '\n') {
        out += text.substring(start, i)
        while (i < n && text.charAt(i) == '\n') i += 1
        start = i
      } else i += 1
    }
    out += text.substring(start, n)
    out.result()
  }

  def registerAll(): Unit = {
    TaggerRegistry.register("gopher_v1")(new GopherTagger(ignoreEmptyLines = false))
    TaggerRegistry.register("gopher_v2")(new GopherTagger(ignoreEmptyLines = true))
  }
}
