package graft.core

/** Rule-based sentence splitter with code-point offsets — the stand-in for
  * the reference's blingfire/punkt sentence segmentation
  * (/root/reference/python/dolma/core/utils.py:101-115): sentence-level
  * fastText taggers (jigsaw `_sentence_` variants, ft_tagger.py:138-153)
  * slice on these offsets.
  *
  * Rules: a sentence ends at `.`/`!`/`?` (plus trailing quotes/brackets)
  * followed by whitespace and an uppercase/digit start, or at a newline.
  * Common abbreviations and decimal points do not split.
  */
object Sentences {

  private val abbreviations = Set(
    "mr", "mrs", "ms", "dr", "prof", "sr", "jr", "st", "vs", "etc", "eg",
    "e.g", "ie", "i.e", "inc", "ltd", "co", "corp", "fig", "al", "dept",
    "est", "min", "max", "no", "vol", "pp", "approx")

  def split(text: String): Vector[TextSlice] = {
    if (text.isEmpty) return Vector.empty
    val out = Vector.newBuilder[TextSlice]
    val n = text.length
    var start = 0
    var i = 0
    var cp = 0 // code point index
    var startCp = 0

    def emit(endChar: Int, endCp: Int): Unit = {
      if (endChar > start) {
        val slice = text.substring(start, endChar)
        if (slice.exists(c => !Character.isWhitespace(c)))
          out += TextSlice(text, startCp, endCp, start, endChar)
      }
      start = endChar
      startCp = endCp
    }

    while (i < n) {
      val c = text.charAt(i)
      if (c == '\n') {
        emit(i + 1, cp + 1)
        i += 1; cp += 1
      } else if (c == '.' || c == '!' || c == '?') {
        // consume trailing closers
        var j = i + 1
        var jcp = cp + 1
        while (j < n && (text.charAt(j) == '"' || text.charAt(j) == '\'' ||
          text.charAt(j) == ')' || text.charAt(j) == ']')) { j += 1; jcp += 1 }
        val followedByBoundary = j >= n ||
          (Character.isWhitespace(text.charAt(j)) && (j + 1 >= n || {
            var k = j
            while (k < n && Character.isWhitespace(text.charAt(k)) && text.charAt(k) != '\n') k += 1
            k >= n || Character.isUpperCase(text.charAt(k)) || Character.isDigit(text.charAt(k))
          }))
        val isAbbrev = c == '.' && {
          var k = i - 1
          while (k >= 0 && (Character.isLetter(text.charAt(k)) || text.charAt(k) == '.')) k -= 1
          val word = text.substring(k + 1, i).toLowerCase(java.util.Locale.ROOT)
          abbreviations.contains(word) || word.length == 1
        }
        val isDecimal = c == '.' && i + 1 < n && Character.isDigit(text.charAt(i + 1)) &&
          i > 0 && Character.isDigit(text.charAt(i - 1))
        if (followedByBoundary && !isAbbrev && !isDecimal) {
          emit(j, jcp)
          i = j; cp = jcp
        } else { i += 1; cp += 1 }
      } else {
        i += (if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(text.charAt(i + 1))) 2 else 1)
        cp += 1
      }
    }
    emit(n, cp)
    out.result()
  }
}
