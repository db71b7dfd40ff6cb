package graft.core

/** Code-point-safe string operations.
  *
  * The reference indexes span offsets in Unicode code points (Python `str`
  * indexing on the tagger side; the Rust mixer walks `char_indices` —
  * /root/reference/src/shard.rs:386-441). JVM strings are UTF-16, so every
  * span computation here goes through these helpers to stay surrogate-pair
  * safe. For pure-BMP text these degenerate to plain `String` ops at the
  * same cost.
  */
object CodePoints {

  /** Number of Unicode code points in `s` (== Python `len(s)`). */
  def length(s: String): Int = s.codePointCount(0, s.length)

  /** Python-style `s[startCp:endCp]` slice by code points, clamped. */
  def slice(s: String, startCp: Int, endCp: Int): String = {
    val n = length(s)
    val a = math.max(0, math.min(startCp, n))
    val b = math.max(a, math.min(endCp, n))
    if (a == 0 && b == n) s
    else s.substring(s.offsetByCodePoints(0, a), s.offsetByCodePoints(0, b))
  }

  /** True if the string has no surrogate pairs (fast path: code point index
    * == char index). */
  def isBmpOnly(s: String): Boolean = s.length == length(s)

  /** Convert a UTF-16 char offset into a code-point offset. */
  def charToCodePointIndex(s: String, charIdx: Int): Int =
    s.codePointCount(0, charIdx)
}
