package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate fingerprints (Charikar 2002; Manku et al. WWW'07
  * "Detecting Near-Duplicates for Web Crawling"): 64-bit signature whose
  * Hamming distance tracks cosine similarity of the word multiset.
  *
  * The signature is computed as a pure Catalyst expression pipeline (no
  * UDF): tokenize → per-token xxhash64 → per-bit vote via bitwise ops in
  * an `aggregate` fold → sign. Near-dup candidates at Hamming ≤ 3 are
  * found by the standard 4-block split: equal on any 16-bit block ⇒
  * candidate (pigeonhole), verified by exact Hamming distance.
  */
object SimHash {

  /** 64-bit simhash of the whitespace token multiset of `textCol`
    * (one-pass custom expression — the 64×`aggregate` Catalyst fold
    * re-walks the token array per bit). */
  def simhash64(textCol: Column): Column =
    graft.functions.Hashing.simhash64(textCol)

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  private def blockKey(sig: Column, blk: Int): Column =
    shiftright(sig, blk * 16).bitwiseAND(lit(0xffffL))

  /** Near-duplicate pairs with Hamming ≤ `maxDistance` (≤ 16 supported by
    * the 4-block pigeonhole index). The four 16-bit blocks are the bucket
    * array of [[BucketJoin.pairs]]: one shuffle on block value, and the
    * same skew guard as [[MinHashLSH.nearDuplicatePairs]] — short,
    * templated or empty-ish docs concentrate signature blocks, so buckets
    * over `maxBucketSize` rows are dropped, observably through `dropObs`
    * (`dropped_rows` / `dropped_buckets`).
    *
    * Pair dedup is shuffle-free: a pair whose signatures agree on several
    * 16-bit blocks is emitted ONLY from the lowest matching block — the
    * "earlier blocks differ" predicate is computed from the two
    * signatures already riding the join row. The Hamming distance is
    * block-independent, so with no bucket dropped the emitted rows equal
    * what a `groupBy(id_a, id_b).min(distance)` produces. Under a finite
    * cap they do not: the predicate reads the full signatures, so a pair
    * whose lowest matching block fell in a dropped bucket is suppressed
    * in every surviving block too, and `dropObs` does not count it. */
  def nearDuplicatePairs(df: DataFrame, idCol: Column, textCol: Column,
      maxDistance: Int = 3, maxBucketSize: Int = 1000,
      dropObs: Option[Observation] = None): DataFrame = {
    val sigs = df.select(idCol.as("id"), simhash64(textCol).as("sig"))
    // for block k require every block e < k to DIFFER between the two
    // signatures (the join key equality guarantees block k matches)
    val firstMatch = (1 until 4).foldLeft(when(col("band") === 0, lit(true))) {
      (acc, blk) =>
        acc.when(col("band") === blk,
          (0 until blk).map(e =>
            blockKey(col("sig_a"), e) =!= blockKey(col("sig_b"), e)).reduce(_ && _))
    }
    BucketJoin.pairs(sigs, array((0 until 4).map(blockKey(col("sig"), _)): _*),
        maxBucketSize, dropObs)
      .filter(firstMatch)
      .select(col("id_a"), col("id_b"), hamming(col("sig_a"), col("sig_b")).as("distance"))
      .filter(col("distance") <= maxDistance)
  }
}
