package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The analyzer: attribute-score histogram aggregation
  * (/root/reference/python/dolma/core/analyzer.py:66-200,
  * core/binning.py:29-120). The reference tracks per-file (score, span
  * length) distributions with log-bucket trackers and merges summaries
  * manually; Spark's partial+final aggregation replaces the two-phase
  * merge, and the bucketing is a plain Catalyst expression so the groupBy
  * is map-side combinable.
  *
  * Reference quirk kept: fastText scores are capped at 1.0 before binning
  * (analyzer.py:126-133).
  */
object Analyzer {

  /** Log10 bucket index, sign-aware and INJECTIVE across sign:
    * 0 for |v| < 1e-9, else sign(v) * (floor(log10|v|·bpd) + 10^6).
    * A bare sign*floor would conflate populations: ±1.0 both land on 0
    * with true zeros, and -0.5 collides with +2.51 — mixed-sign
    * attributes (doc_frac's -1 sentinel, negative_paragraph) would get
    * merged histogram buckets. The offset keeps the three ranges
    * (negative / zero / positive) disjoint for any |v| > 1e-100. */
  def logBucket(v: Column, bucketsPerDecade: Int = 10): Column = {
    val mag = abs(v)
    when(mag < 1e-9, lit(0L)).otherwise(
      signum(v).cast("long") *
        (floor(log10(greatest(mag, lit(1e-9))) * bucketsPerDecade).cast("long") +
          lit(1000000L)))
  }

  /** Histogram of an exploded attribute table `(attr, score)` →
    * `(attr, bucket, count)`. Scores capped at `cap` first. */
  def histogram(attrScores: DataFrame, attrCol: Column, scoreCol: Column,
      bucketsPerDecade: Int = 10, cap: Double = 1.0e18): DataFrame = {
    val capped = least(scoreCol, lit(cap))
    attrScores
      .groupBy(attrCol.as("attr"), logBucket(capped, bucketsPerDecade).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum(capped).as("total"))
  }

  /** Typed Aggregator building a full fixed-bucket histogram in one pass —
    * the custom-UDAF form (exact-parity alternative named in SURVEY §2.4).
    * Buffer = bucket→count map; merge is map-union (associative,
    * commutative — ScalaCheck-tested). */
  class HistogramAggregator(bucketsPerDecade: Int, cap: Double)
      extends Aggregator[Double, Map[Long, Long], Map[Long, Long]] {
    def zero: Map[Long, Long] = Map.empty
    def bucketOf(v0: Double): Long = {
      val v = math.min(v0, cap)
      val mag = math.abs(v)
      if (mag < 1e-9) 0L
      else math.signum(v).toLong *
        (math.floor(math.log10(mag) * bucketsPerDecade).toLong + 1000000L)
    }
    def reduce(b: Map[Long, Long], a: Double): Map[Long, Long] = {
      val k = bucketOf(a)
      b.updated(k, b.getOrElse(k, 0L) + 1)
    }
    def merge(x: Map[Long, Long], y: Map[Long, Long]): Map[Long, Long] =
      y.foldLeft(x) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
    def finish(r: Map[Long, Long]): Map[Long, Long] = r
    def bufferEncoder: Encoder[Map[Long, Long]] = Encoders.kryo[Map[Long, Long]]
    def outputEncoder: Encoder[Map[Long, Long]] = Encoders.kryo[Map[Long, Long]]
  }

  /** Top-k n-grams (wimbd counter, /root/reference/src/wimbd/ngrams/).
    *
    * Scale shape: counting shuffles only a 96-bit gram hash pair
    * (12 bytes/distinct gram after map-side combine), never the gram
    * strings (corpus-sized at 100 TB for a top-20 answer) — and the
    * counting pass never even MATERIALIZES a gram string: a one-pass
    * expression ([[graft.functions.Gram128HashesExpr]]) hashes each
    * n-token window's chars directly. The winning hashes — everything
    * tied with or above the k-th count, a set of O(k) in non-degenerate
    * corpora — are resolved back to strings by a second filtered pass
    * ([[graft.functions.GramsWithHashesExpr]], same shared char walk, so
    * the keys cannot drift) whose string groupBy only ever sees candidate
    * grams; ties then break exactly on the string, matching the oracle's
    * ORDER BY cnt DESC, ngram.
    *
    * The hash pair can only merge distinct grams at ~2^-96, and a merge
    * can only inflate a candidate-selection count (the resolve pass
    * recounts exactly on strings), so the result is exact w.p.
    * 1 - 2^-96 — stronger than the reference wimbd counter, which counts
    * into a lossy fixed-size array (`ngrams/counter.rs`). */
  def topKNgrams(df: DataFrame, textCol: Column, n: Int, k: Int): DataFrame = {
    val keyed = df
      .select(explode(graft.functions.Hashing.gram128Hashes(textCol, n)).as("g"))
      .select(col("g.h1").as("h1"), col("g.h2").as("h2"))
    val grams = df
      .select(explode(graft.functions.Hashing.gramsWithHashes(textCol, n)).as("g"))
      .select(col("g.ngram").as("ngram"), col("g.h1").as("h1g"), col("g.h2").as("h2g"))
    val counts = keyed.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("cnt"))
      // one bounded TakeOrderedAndProject collect (per-partition heaps)
      // replaces the former three driver jobs on the counts table (k-th
      // aggregate, tie-guard count, broadcast build): collect the top
      // k + slack hash pairs; unless ties overflow the slack, that set
      // provably contains EVERY pair with cnt >= kth and the candidate
      // list is already on the driver (O(k) rows — same driver grain as
      // the kth scalar before). With the candidate list local, the
      // resolve-pass plan no longer references the counts table at all,
      // so the former persist (whose cache was already dropped by the
      // time the returned plan executed — the broadcast build silently
      // re-ran the whole counting pass per action) has nothing left to
      // amortize and is gone.
      val tieSlack = 1000
      val top = counts.orderBy(col("cnt").desc).limit(k + tieSlack).collect()
      if (top.isEmpty)
        return grams.groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
          .select(col("ngram"), col("cnt"))
      val kth = top.take(k).map(_.getLong(2)).min
      // complete iff the collected prefix cannot have cut a cnt >= kth
      // row: either the whole counts table fit, or the boundary row is
      // already strictly below kth
      val complete = top.length < k + tieSlack || top.last.getLong(2) < kth
      val candDf =
        if (complete) {
          val spark = df.sparkSession
          // the Gram128HashesExpr pair: h1 is the mix64-finalized long,
          // h2 the upper 32 bits of the second mix64 lane (int)
          val rows = top.filter(_.getLong(2) >= kth)
            .map(r => (r.getLong(0), r.getInt(1)))
          import spark.implicits._
          rows.toSeq.toDF("h1", "h2")
        } else {
          // tie flood past the slack: fall back to the distributed
          // candidate set with the loud degenerate-corpus guard. They
          // stay DISTRIBUTED — broadcast-semi-joined against the gram
          // stream, never collected. A corpus where >50k·k grams tie at
          // the k-th count has no meaningful top-k and is rejected rather
          // than silently truncated (and would otherwise overrun the
          // broadcast).
          val cd = counts.filter(col("cnt") >= kth).select(col("h1"), col("h2"))
          val maxCand = math.max(50000L * k, 100000L)
          val nCand = cd.count()
          require(nCand < maxCand,
            s"top-$k n-grams: $nCand grams tie at the k-th count boundary (max $maxCand)")
          cd
        }
      // resolve pass: only candidate grams survive the broadcast semi-join
      // into the string groupBy
      grams
        .join(broadcast(candDf),
          col("h1g") === col("h1") && col("h2g") === col("h2"),
          "left_semi")
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ngram"))
        .limit(k)
  }
}
