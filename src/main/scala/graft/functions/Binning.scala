package graft.functions

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The analyzer's equal-count ("infer") bucket tracker — a faithful port
  * of the reference's streaming summary machinery
  * (/root/reference/python/dolma/core/binning.py:29-368; reference vectors
  * in `BinningSpec` generated by executing that file).
  *
  * Quirks mirrored on purpose:
  *  - `np.unique`-style duplicate merge keeps `count[firstIndex] × k` for a
  *    value repeated k times, not the sum (binning.py:127-135).
  *  - `total` counts ADD CALLS, not Σcount (binning.py:354-366).
  *  - `equal_count_hist` uses banker's rounding (`np.round` ≡ rint) of the
  *    reset-cumsum multiples, `np.roll` wrap-around at index 0, first-max
  *    argmax, and Python slice-step subsampling of excess split points
  *    (binning.py:29-120).
  *
  * Deliberate deviation: cross-partition merge uses the lossless sorted
  * `merge_bins` (binning.py:139-204) instead of the reference's
  * `add_summary` re-streaming (which re-approximates already-binned
  * values) — exact, order-independent, and associative, which is what a
  * distributed `Aggregator` needs.
  */
object Binning {

  /** Cumulative sum that resets at `reset` markers (binning.py:16-26). */
  def cumsumWithReset(arr: Array[Long], reset: Long): Array[Long] = {
    val out = new Array[Long](arr.length)
    var run = 0L
    var offset = 0L
    var i = 0
    while (i < arr.length) {
      run += arr(i)
      out(i) = run - offset
      if (arr(i) == reset) { offset = run; out(i) = 0L }
      i += 1
    }
    out
  }

  /** Bins such that each bin holds ~the same weighted count
    * (binning.py:29-120). Returns (counts, binEdges) with
    * `edges.length == counts.length + 1`. */
  def equalCountHist(a: Array[Double], bins0: Int, weights0: Array[Long] = null)
      : (Array[Long], Array[Double]) = {
    if (a.isEmpty) return (Array.empty, Array.empty)
    val weights = if (weights0 == null) Array.fill(a.length)(1L) else weights0
    val bins = math.min(bins0, a.length)
    val iterCounts = weights.clone()
    var currentN = bins - 1
    val binEndPos = mutable.ArrayBuffer.empty[Int]

    while (currentN > 0) {
      var activeSum = 0L
      var i = 0
      while (i < iterCounts.length) {
        if (iterCounts(i) > 0) activeSum += iterCounts(i); i += 1
      }
      val elementsPerBin = activeSum / currentN
      var newBinsLocs = iterCounts.map(_ >= elementsPerBin)

      if (!newBinsLocs.exists(identity)) {
        val cumsum = cumsumWithReset(iterCounts, -1L)
        val rounded = cumsum.map(c => math.rint(c.toDouble / elementsPerBin).toLong)
        if (rounded.sum > 0) {
          newBinsLocs = Array.tabulate(rounded.length) { j =>
            val prev = rounded(if (j == 0) rounded.length - 1 else j - 1)
            rounded(j) - prev > 0
          }
        } else {
          var best = 0
          var j = 1
          while (j < iterCounts.length) {
            if (iterCounts(j) > iterCounts(best)) best = j; j += 1
          }
          newBinsLocs = Array.fill(iterCounts.length)(false)
          newBinsLocs(best) = true
        }
      }

      if (newBinsLocs.last) currentN += 1
      var newBins = Array.range(0, newBinsLocs.length).filter(newBinsLocs)
      if (newBins.length > currentN) {
        val step = newBins.length / currentN
        newBins = Array.range(0, newBins.length, step).map(newBins)
      }
      binEndPos ++= newBins
      i = 0
      while (i < newBinsLocs.length) {
        if (newBinsLocs(i)) iterCounts(i) = -1L; i += 1
      }
      // the reference (equal_count_hist) INFINITE-LOOPS when currentN==1
      // and one element holds over half the remaining weight: every
      // rounded multiple equals 1, so zero new bins are marked and no
      // progress happens. Degrading to "stop splitting" is the only
      // termination-safe deviation — a stalled executor task is worse
      // than one coarser bucket.
      if (newBins.isEmpty) currentN = 0 else currentN -= newBins.length
    }

    val pos = (binEndPos.toSet + (a.length - 1)).toArray.sorted
    val finalBins = new Array[Double](pos.length + 1)
    finalBins(0) = a(0)
    var k = 0
    while (k < pos.length) {
      val i = pos(k)
      finalBins(k + 1) = if (i + 1 < a.length) (a(i) + a(i + 1)) / 2 else a(i)
      k += 1
    }
    val cumw = new Array[Long](a.length)
    var run = 0L
    var i2 = 0
    while (i2 < a.length) { run += weights(i2); cumw(i2) = run; i2 += 1 }
    val finalCounts = new Array[Long](pos.length)
    var prev = 0L
    k = 0
    while (k < pos.length) {
      finalCounts(k) = cumw(pos(k)) - prev
      prev = cumw(pos(k))
      k += 1
    }
    (finalCounts, finalBins)
  }

  /** Weighted equal-WIDTH histogram (np.histogram semantics: linspace
    * edges, right-closed last bin). */
  def equalWidthHist(a: Array[Double], bins: Int, weights: Array[Long])
      : (Array[Long], Array[Double]) = {
    if (a.isEmpty) return (Array.empty, Array.empty)
    // np.histogram degenerate-range rule: a zero-width range expands to
    // (lo - 0.5, hi + 0.5) before the linspace (numpy histograms.py
    // _get_outer_edges).
    val lo0 = a.min
    val hi0 = a.max
    val (lo, hi) = if (hi0 == lo0) (lo0 - 0.5, hi0 + 0.5) else (lo0, hi0)
    val edges = Array.tabulate(bins + 1)(i => lo + (hi - lo) * i / bins)
    val counts = new Array[Long](bins)
    var i = 0
    while (i < a.length) {
      val v = a(i)
      var b = ((v - lo) / (hi - lo) * bins).toInt
      if (b >= bins) b = bins - 1
      counts(b) += weights(i)
      i += 1
    }
    (counts, edges)
  }

  /** Sort + dedup with the reference's first-count×occurrences quirk
    * (binning.py:123-136). Input order defines "first". */
  def sortAndMergeBins(bins: Array[Double], counts: Array[Long])
      : (Array[Double], Array[Long]) = {
    if (bins.isEmpty) return (bins, counts)
    val order = Array.range(0, bins.length).sortBy(i => (bins(i), i))
    val outB = mutable.ArrayBuilder.make[Double]
    val outC = mutable.ArrayBuilder.make[Long]
    var i = 0
    while (i < order.length) {
      val v = bins(order(i))
      var firstIdx = order(i)
      var k = 0
      var j = i
      while (j < order.length && bins(order(j)) == v) {
        if (order(j) < firstIdx) firstIdx = order(j)
        k += 1; j += 1
      }
      outB += v
      outC += counts(firstIdx) * k
      i = j
    }
    (outB.result(), outC.result())
  }

  /** Lossless merge of two sorted unique (bins, counts) summaries: union
    * of bin values, counts added for equal bins (the reachable semantics
    * of binning.py:139-204 for the unique-sorted inputs the tracker
    * maintains). */
  def mergeBins(binA: Array[Double], countA: Array[Long],
      binB: Array[Double], countB: Array[Long]): (Array[Double], Array[Long]) = {
    val outB = new mutable.ArrayBuilder.ofDouble
    val outC = new mutable.ArrayBuilder.ofLong
    var i = 0
    var j = 0
    while (i < binA.length || j < binB.length) {
      if (j >= binB.length || (i < binA.length && binA(i) < binB(j))) {
        outB += binA(i); outC += countA(i); i += 1
      } else if (i >= binA.length || binB(j) < binA(i)) {
        outB += binB(j); outC += countB(j); j += 1
      } else {
        outB += binA(i); outC += countA(i) + countB(j); i += 1; j += 1
      }
    }
    (outB.result(), outC.result())
  }

  /** `np.searchsorted(bins, v, side="left")`. */
  def searchSortedLeft(bins: Array[Double], v: Double): Int = {
    var lo = 0
    var hi = bins.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bins(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  final case class Summary(bins: Seq[Double], counts: Seq[Long], total: Long, sum: Double)

  /** InferBucketsValTracker (binning.py:264-390): up to `n` adds are kept
    * exactly; past capacity new values snap to the nearest-left existing
    * bin. Buffered in batches of `b` (default √n) to amortize merges. */
  final class InferTracker(val n: Int, bSize0: Int = 0) extends Serializable {
    val bSize: Int = if (bSize0 > 0) bSize0 else math.max(1, math.sqrt(n).toInt)
    var bins: Array[Double] = Array.empty
    var counts: Array[Long] = Array.empty
    private var bufBins = new Array[Double](bSize)
    private var bufCounts = new Array[Long](bSize)
    private var bufIdx = 0
    var remaining: Long = n
    var total: Long = 0L
    var sum: Double = 0.0

    def add(v: Double, c: Long = 1L): Unit = {
      if (remaining >= 0) addNotFull(v, c) else addFull(v, c)
      total += 1
      sum += v * c
    }

    private def push(v: Double, c: Long): Boolean = {
      bufBins(bufIdx) = v
      bufCounts(bufIdx) = c
      bufIdx += 1
      bufIdx == bufBins.length
    }

    private def addNotFull(v: Double, c: Long): Unit = {
      remaining -= 1
      if (remaining < 0) { addFull(v, c); return }
      if (push(v, c)) concatBuffer()
    }

    private def addFull(v: Double, c: Long): Unit =
      if (push(v, c)) addBufferToBins()

    private def newBuffer(): Unit = {
      bufBins = new Array[Double](bSize)
      bufCounts = new Array[Long](bSize)
      bufIdx = 0
    }

    private def concatBuffer(): Unit = {
      val (sb, sc) = Binning.sortAndMergeBins(
        bufBins.take(bufIdx), bufCounts.take(bufIdx))
      if (bins.isEmpty) { bins = sb; counts = sc }
      else {
        val (mb, mc) = Binning.mergeBins(bins, counts, sb, sc)
        bins = mb; counts = mc
      }
      newBuffer()
    }

    /** Snap buffered values to existing bins (binning.py:296-305),
      * including the first-count×occurrences grouping quirk. */
    private def addBufferToBins(): Unit = {
      if (bins.nonEmpty && bufIdx > 0) {
        val locs = Array.tabulate(bufIdx)(i =>
          math.min(Binning.searchSortedLeft(bins, bufBins(i)), bins.length - 1))
        val seen = mutable.LinkedHashMap.empty[Int, (Long, Int)] // loc -> (firstCount, k)
        var i = 0
        while (i < bufIdx) {
          val l = locs(i)
          seen.get(l) match {
            case Some((fc, k)) => seen.update(l, (fc, k + 1))
            case None => seen.update(l, (bufCounts(i), 1))
          }
          i += 1
        }
        seen.foreach { case (l, (fc, k)) => counts(l) += fc * k }
      }
      newBuffer()
    }

    private def flush(): Unit =
      if (remaining >= 0) concatBuffer() else addBufferToBins()

    /** Lossless cross-partition merge (deviation from add_summary — see
      * object doc). */
    def merge(other: InferTracker): InferTracker = {
      flush(); other.flush()
      val (mb, mc) = Binning.mergeBins(bins, counts, other.bins, other.counts)
      bins = mb; counts = mc
      total += other.total
      sum += other.sum
      remaining = n - math.min(n.toLong, (n - remaining) + (other.n - other.remaining))
      this
    }

    def summarize(nOut: Int, mode: String = "count"): Summary = {
      flush()
      if (bins.length <= nOut)
        Summary(bins.toSeq, counts.toSeq, total, sum)
      else {
        val (c, b) = mode match {
          case "count" => Binning.equalCountHist(bins, nOut, counts)
          case _ => Binning.equalWidthHist(bins, nOut, counts)
        }
        Summary(b.toSeq, c.toSeq, total, sum)
      }
    }
  }

  /** Typed Aggregator over a double column → equal-count summary. */
  final class InferSummaryAgg(n: Int, nOut: Int, mode: String = "count")
      extends org.apache.spark.sql.expressions.Aggregator[Double, InferTracker, Summary] {
    def zero: InferTracker = new InferTracker(n)
    def reduce(t: InferTracker, v: Double): InferTracker = { t.add(v); t }
    def merge(a: InferTracker, b: InferTracker): InferTracker = a.merge(b)
    def finish(t: InferTracker): Summary = t.summarize(nOut, mode)
    def bufferEncoder: org.apache.spark.sql.Encoder[InferTracker] =
      org.apache.spark.sql.Encoders.kryo[InferTracker]
    def outputEncoder: org.apache.spark.sql.Encoder[Summary] =
      org.apache.spark.sql.Encoders.product[Summary]
  }

  /** One row of the analyze stage's output: the summary of `name`. */
  final case class NamedSummary(name: String, bins: Seq[Double], counts: Seq[Long],
      total: Long, sum: Double)

  /** The `dolma analyze` stage (core/analyzer.py:96-188) as ONE aggregate
    * over an attribute-map column: per attribute name, the distribution of
    * span scores (`name/score`) and span lengths (`name/length`) as
    * equal-count summaries. Faithful details: an empty span list counts as
    * one (0, 0, 0.0) triple (analyzer.py:124), and `__label__` scores cap
    * at 1.0 (the fastText >1.0-probability fix, analyzer.py:127-133).
    *
    * The buffer is a map of trackers whose merge is lossless
    * ([[InferTracker.merge]]), so the aggregate serves a plain `.agg` over
    * attribute tables and a `Dataset.observe` on a pipeline alike. Under
    * `observe` each task's buffer is merged on the DRIVER: the cost grows
    * with distinct values × attributes — the same lossless merge a grouped
    * aggregation would do per name on the executors. */
  final class AttributeSummaryAgg(n: Int, nOut: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Map[String, Seq[graft.core.SpanTriple]], AttributeSummaryAgg.Trackers, Seq[NamedSummary]] {
    import AttributeSummaryAgg.Trackers
    def zero: Trackers = new Trackers()
    def reduce(b: Trackers, attrs: Map[String, Seq[graft.core.SpanTriple]]): Trackers = {
      if (attrs != null) attrs.foreach { case (name, spans) =>
        val Array(scores, lengths) = b.computeIfAbsent(name,
          _ => Array(new InferTracker(n), new InferTracker(n)))
        if (spans == null || spans.isEmpty) { scores.add(0.0); lengths.add(0.0) }
        else {
          // `least(score, 1.0)`: Spark orders NaN above every value
          val cap = name.contains("__label__")
          spans.foreach { t =>
            scores.add(if (cap && !(t.score <= 1.0)) 1.0 else t.score)
            lengths.add((t.end - t.start).toDouble)
          }
        }
      }
      b
    }
    def merge(a: Trackers, b: Trackers): Trackers = {
      b.forEach { (name, p) =>
        val mine = a.putIfAbsent(name, p)
        if (mine != null) { mine(0).merge(p(0)); mine(1).merge(p(1)) }
      }
      a
    }
    def finish(b: Trackers): Seq[NamedSummary] =
      b.asScala.toSeq.sortBy(_._1).flatMap { case (name, p) =>
        Seq("score" -> p(0), "length" -> p(1)).map { case (kind, t) =>
          val s = t.summarize(nOut)
          NamedSummary(s"$name/$kind", s.bins, s.counts, s.total, s.sum)
        }
      }
    def bufferEncoder: org.apache.spark.sql.Encoder[Trackers] =
      org.apache.spark.sql.Encoders.kryo[Trackers]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[NamedSummary]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[NamedSummary]]()
  }

  object AttributeSummaryAgg {
    /** attribute name → its (score, length) tracker pair */
    type Trackers = java.util.HashMap[String, Array[InferTracker]]
  }

  /** The analyze aggregate over attribute-map column `attrs`: an array of
    * [[NamedSummary]] structs, sorted by name. `regex` keeps the attribute
    * names it finds a match in (`rlike`), as the reference's `--regex`. */
  def attributeSummaries(attrs: org.apache.spark.sql.Column, nOut: Int,
      regex: Option[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{map_filter, udaf}
    val named = regex.fold(attrs)(r => map_filter(attrs, (k, _) => k.rlike(r)))
    udaf(new AttributeSummaryAgg(1 << 20, nOut),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
        Map[String, Seq[graft.core.SpanTriple]]]())(named)
  }
}
