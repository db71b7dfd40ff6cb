package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass sketch expressions. The naive Catalyst formulations
  * (numPerms × `transform` + `array_min`, or 64 × `aggregate` bit folds)
  * re-walk the token array once per permutation/bit — a 32–64× blowup that
  * also explodes codegen size. These expressions do one pass per row in a
  * tight JVM loop; CodegenFallback costs one virtual call per row, noise
  * compared to the per-row work.
  */
object Hashing {

  /** splitmix64 finalizer — cheap, well-mixed 64-bit hash step. */
  @inline def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** 64-bit hash of a char subsequence (FNV-1a + final mix). */
  def hashChars(s: String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= s.charAt(i).toLong & 0xffffL
      h *= 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  /** Lowercase whitespace tokens as (start, end) offsets — allocation-light.
    * The whitespace class is Java-regex `\s` (ASCII: space, \t, \n, \x0B,
    * \f, \r), NOT Character.isWhitespace: the exact-verify stage tokenizes
    * with `split(lower(text), "\\s+")`, and the proposal stage must split
    * identically or Unicode-whitespace documents get different shingles on
    * the two sides — an undocumented recall hole beyond the banding miss. */
  def tokenOffsets(s: String): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](64)
    var i = 0
    val n = s.length
    var start = -1
    @inline def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    while (i < n) {
      val ws = isWs(s.charAt(i))
      if (ws) { if (start >= 0) { out += start; out += i; start = -1 } }
      else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) { out += start; out += n }
    out.toArray
  }

  def minhashSignature(text: Column, shingleK: Int, numPerms: Int): Column =
    Bridge.toColumn(MinHashSigExpr(Bridge.toExpr(text), shingleK, numPerms))

  def simhash64(text: Column): Column =
    Bridge.toColumn(SimHash64Expr(Bridge.toExpr(text)))

  /** The deterministic Gaussian hyperplane family shared by
    * [[HyperplaneBucketExpr]] (row side) and the driver-side query-bucket
    * computation in `Ann.lshBucketedTopK` — one generation order, so the
    * two sides always agree bit-for-bit. */
  def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rng.nextGaussian()))
  }

  def hyperplaneBucket(vec: Column, dim: Int, bits: Int, seed: Long): Column =
    Bridge.toColumn(HyperplaneBucketExpr(Bridge.toExpr(vec), dim, bits, seed))

  def sortedShingleHashes(text: Column, shingleK: Int): Column =
    Bridge.toColumn(SortedShingleHashesExpr(Bridge.toExpr(text), shingleK))

  def ngramHashes(text: Column, n: Int, stride: Int): Column =
    Bridge.toColumn(NgramHashesExpr(Bridge.toExpr(text), n, stride))

  def gram128Hashes(text: Column, n: Int): Column =
    Bridge.toColumn(Gram128HashesExpr(Bridge.toExpr(text), n))

  def gramsWithHashes(text: Column, n: Int): Column =
    Bridge.toColumn(GramsWithHashesExpr(Bridge.toExpr(text), n))

  /** Shared 128-bit gram hashing for the top-k n-gram counter: two
    * independent FNV-style accumulators (distinct odd multipliers — a
    * same-prime/different-basis pair would collide jointly on same-length
    * grams) over the chars of the SPACE-JOINED token window, finished
    * with [[mix64]]. Both the hashes-only counting pass and the
    * string-materializing resolve pass call this one function, so the
    * semi-join keys can never drift. */
  private[functions] object Gram128 {
    final val P1 = 0x100000001b3L
    final val P2 = 0x9E3779B97F4A7C15L
    final val B1 = 0xcbf29ce484222325L
    final val B2 = 0x2545F4914F6CDD1DL
  }
}

/** Hashes-only exploded form of the top-k counter's first pass:
  * array<struct<h1: long, h2: int>> — one 96-bit hash pair per n-token
  * window of the lowercase token list, with NO gram string materialized
  * (the declarative chain built every gram through slice + concat_ws +
  * UTF8String before hashing it). < n tokens ⇒ empty (the counting pass
  * emits no grams for short docs, matching the former
  * `when(size < n, array())` branch). */
case class Gram128HashesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", IntegerType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toLowerCase.toString
    val offs = Hashing.tokenOffsets(s)
    val nTok = offs.length / 2
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val count = nTok - n + 1
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      var h1 = Hashing.Gram128.B1
      var h2 = Hashing.Gram128.B2
      var t = i
      while (t < i + n) {
        if (t > i) {
          h1 = (h1 ^ 0x20L) * Hashing.Gram128.P1
          h2 = (h2 ^ 0x20L) * Hashing.Gram128.P2
        }
        var c = offs(2 * t)
        val end = offs(2 * t + 1)
        while (c < end) {
          val ch = s.charAt(c).toLong & 0xffffL
          h1 = (h1 ^ ch) * Hashing.Gram128.P1
          h2 = (h2 ^ ch) * Hashing.Gram128.P2
          c += 1
        }
        t += 1
      }
      out(i) = InternalRow(Hashing.mix64(h1),
        (Hashing.mix64(h2) >>> 32).toInt)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Resolve-pass form: array<struct<ngram: string, h1: long, h2: int>> —
  * the gram STRING (space-joined lowercase window, identical to the
  * former concat_ws(" ", slice(...)) construction) plus the SAME hash
  * pair as [[Gram128HashesExpr]] (shared char walk), so the broadcast
  * semi-join against the counting pass's surviving hash pairs matches
  * exactly. */
case class GramsWithHashesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ngram", StringType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", IntegerType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toLowerCase.toString
    val offs = Hashing.tokenOffsets(s)
    val nTok = offs.length / 2
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val count = nTok - n + 1
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < count) {
      var h1 = Hashing.Gram128.B1
      var h2 = Hashing.Gram128.B2
      sb.setLength(0)
      var t = i
      while (t < i + n) {
        if (t > i) {
          h1 = (h1 ^ 0x20L) * Hashing.Gram128.P1
          h2 = (h2 ^ 0x20L) * Hashing.Gram128.P2
          sb.append(' ')
        }
        var c = offs(2 * t)
        val end = offs(2 * t + 1)
        while (c < end) {
          val chr = s.charAt(c)
          val ch = chr.toLong & 0xffffL
          h1 = (h1 ^ ch) * Hashing.Gram128.P1
          h2 = (h2 ^ ch) * Hashing.Gram128.P2
          sb.append(chr)
          c += 1
        }
        t += 1
      }
      out(i) = InternalRow(UTF8String.fromString(sb.toString),
        Hashing.mix64(h1), (Hashing.mix64(h2) >>> 32).toInt)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Ordered n-gram hash stream of the whitespace token list (NOT
  * lowercased — mirrors `split(textCol, "\\s+")` with empties dropped):
  * one hash per n-token window at `stride`, a single whole-list hash when
  * the text has < n tokens — computed in one pass over the text, with no
  * per-gram string built before hashing.
  * Hash values are internal keys of the first-occurrence window; any
  * injective-w.h.p. hash preserves the marking (collision class 2^-64,
  * unchanged). */
case class NgramHashesExpr(child: Expression, n: Int, stride: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1 && stride >= 1, "n and stride must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val offs = Hashing.tokenOffsets(s)
    val nTok = offs.length / 2

    @inline def gramHash(from: Int, untilTok: Int): Long = {
      var h = 0xcbf29ce484222325L
      var t = from
      while (t < untilTok) {
        var i = offs(2 * t)
        val end = offs(2 * t + 1)
        while (i < end) {
          h ^= s.charAt(i).toLong & 0xffffL
          h *= 0x100000001b3L
          i += 1
        }
        h ^= 0x20L
        h *= 0x100000001b3L
        t += 1
      }
      Hashing.mix64(h)
    }

    if (nTok < n) return new GenericArrayData(Array(gramHash(0, nTok)))
    val count = (nTok - n) / stride + 1
    val hs = new Array[Long](count)
    var i = 0
    var start = 0
    while (i < count) {
      hs(i) = gramHash(start, start + n)
      start += stride
      i += 1
    }
    new GenericArrayData(hs)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted distinct k-word-shingle hash set of the lowercase token list —
  * the one-pass form of
  * `array_sort(array_distinct(transform(windows, xxhash64(concat_ws(...)))))`.
  * The declarative chain builds every shingle as a string (slice +
  * concat_ws + UTF8String) before hashing and materializes three
  * intermediate arrays per row; this walks the char offsets once per
  * shingle with the same FNV+mix scheme as [[MinHashSigExpr]]. Hash
  * VALUES differ from the xxhash64-of-string formulation, but every
  * consumer (exact Jaccard, prefix filtering, posting joins) observes
  * only set relations — intersection/union sizes and a consistent global
  * order — which any injective-w.h.p. shingle hash preserves (collision
  * odds 2^-64, the same class as before). Tokenization is identical to
  * `split(lower(text), "\\s+")` (see [[Hashing.tokenOffsets]]); < k
  * tokens (including zero) hash the whole token list as one shingle,
  * mirroring the declarative `when(size < k, ...)` branch. */
case class SortedShingleHashesExpr(child: Expression, shingleK: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toLowerCase.toString
    val offs = Hashing.tokenOffsets(s)
    val nTok = offs.length / 2

    @inline def shingleHash(from: Int, untilTok: Int): Long = {
      var h = 0xcbf29ce484222325L
      var t = from
      while (t < untilTok) {
        var i = offs(2 * t)
        val end = offs(2 * t + 1)
        while (i < end) {
          h ^= s.charAt(i).toLong & 0xffffL
          h *= 0x100000001b3L
          i += 1
        }
        h ^= 0x20L
        h *= 0x100000001b3L
        t += 1
      }
      Hashing.mix64(h)
    }

    if (nTok < shingleK)
      return new GenericArrayData(Array(shingleHash(0, nTok)))
    val n = nTok - shingleK + 1
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = shingleHash(i, i + shingleK); i += 1 }
    java.util.Arrays.sort(hs)
    // dedup in place over the sorted array
    var w = 0
    var r = 0
    while (r < n) {
      if (r == 0 || hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == n) hs else java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature (Broder 1997) of the k-word-shingle set: base 64-bit
  * hash per shingle, permutations via universal hashing
  * `h_i = mix(h ^ C_i)`. One pass over tokens; O(shingles × perms) mixes.
  */
case class MinHashSigExpr(child: Expression, shingleK: Int, numPerms: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val seeds: Array[Long] =
    Array.tabulate(numPerms)(i => Hashing.mix64(0x9e3779b97f4a7c15L * (i + 1)))

  override def nullSafeEval(input: Any): Any = {
    // UTF8String.toLowerCase is Spark's own lower(): locale-independent,
    // exactly matching the verify stage (JVM-default-locale toLowerCase
    // diverges under e.g. Turkish locale and across executors)
    val s = input.asInstanceOf[UTF8String].toLowerCase.toString
    val offs = Hashing.tokenOffsets(s)
    val nTok = offs.length / 2
    val mins = Array.fill(numPerms)(Long.MaxValue)
    if (nTok == 0) return new GenericArrayData(mins)

    @inline def shingleHash(from: Int, untilTok: Int): Long = {
      // hash the concatenation of tokens [from, untilTok) with separators
      var h = 0xcbf29ce484222325L
      var t = from
      while (t < untilTok) {
        var i = offs(2 * t)
        val end = offs(2 * t + 1)
        while (i < end) {
          h ^= s.charAt(i).toLong & 0xffffL
          h *= 0x100000001b3L
          i += 1
        }
        h ^= 0x20L
        h *= 0x100000001b3L
        t += 1
      }
      Hashing.mix64(h)
    }

    val nShingles = if (nTok < shingleK) 1 else nTok - shingleK + 1
    var sIdx = 0
    while (sIdx < nShingles) {
      val base =
        if (nTok < shingleK) shingleHash(0, nTok)
        else shingleHash(sIdx, sIdx + shingleK)
      var p = 0
      while (p < numPerms) {
        val h = Hashing.mix64(base ^ seeds(p))
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      sIdx += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash (Charikar 2002) of the lowercase token multiset. */
/** Random-hyperplane LSH bucket (Charikar 2002): `bits` sign bits of the
  * input vector's projections onto seeded Gaussian hyperplanes, packed into
  * a long. The declarative formulation — `bits` × `aggregate(zip_with(vec,
  * array(dim literals)))` — builds a plan of O(bits·dim) Catalyst nodes
  * (analyzer/optimizer seconds at bits=12, dim=64) and materializes `bits`
  * intermediate arrays PER ROW; this expression carries only (dim, bits,
  * seed), regenerates the planes once per executor, and does one tight
  * O(bits·dim) loop per row. Projection sums fold in element order, exactly
  * like `aggregate`, so bucket ids are bit-identical to the old plan. */
case class HyperplaneBucketExpr(child: Expression, dim: Int, bits: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  @transient private lazy val flat: Array[Double] = {
    val planes = Hashing.hyperplanes(dim, bits, seed)
    val f = new Array[Double](bits * dim)
    var i = 0
    while (i < bits) { System.arraycopy(planes(i), 0, f, i * dim, dim); i += 1 }
    f
  }

  @transient private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val vec: Array[Double] =
      if (elemIsFloat) {
        val fs = arr.toFloatArray()
        val ds = new Array[Double](fs.length)
        var i = 0
        while (i < fs.length) { ds(i) = fs(i).toDouble; i += 1 }
        ds
      } else arr.toDoubleArray()
    val n = math.min(vec.length, dim)
    var sig = 0L
    var b = 0
    while (b < bits) {
      var proj = 0.0
      val base = b * dim
      var j = 0
      while (j < n) { proj += flat(base + j) * vec(j); j += 1 }
      if (proj >= 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    // UTF8String.toLowerCase is Spark's own lower(): locale-independent,
    // exactly matching the verify stage (JVM-default-locale toLowerCase
    // diverges under e.g. Turkish locale and across executors)
    val s = input.asInstanceOf[UTF8String].toLowerCase.toString
    val offs = Hashing.tokenOffsets(s)
    val votes = new Array[Int](64)
    var t = 0
    while (t < offs.length) {
      val h = Hashing.hashChars(s, offs(t), offs(t + 1))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 2
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
