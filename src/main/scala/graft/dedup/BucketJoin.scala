package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bucket self-join shared by the LSH near-duplicate family
  * ([[MinHashLSH.nearDuplicatePairs]], [[SimHash.nearDuplicatePairs]],
  * `Ann.cosineNearDupPairs`): documents → one row per (band, bucket) →
  * bucket-size cap → self-join within each bucket. Callers apply their
  * own pair dedup and verify predicates to the joined rows.
  *
  * Plan shape: one Exchange on (band, bucket). Both join sides read it —
  * the second as a `ReusedExchange` — and the cap's window sort is the
  * sort the merge join needs, so the sketch runs once per document and
  * nothing is materialized while the DataFrame is built. Exception: over
  * a cached input with AQE on, each side gets its own table-cache query
  * stage, the two exchanges no longer match, and the sketch runs once
  * per side.
  */
object BucketJoin {

  /** One row per element of the fixed-length, never-null `buckets` array:
    * every column of `docs`, plus `band` (the array position: LSH band,
    * SimHash block or hyperplane table) and `bucket` (the element).
    * `posexplode_outer` yields the same rows as `posexplode` on such an
    * array, but Spark infers no `size(buckets) > 0` filter for it — that
    * filter is pushed below the projection and evaluates the sketch a
    * second time per document. */
  def explode(docs: DataFrame, buckets: Column): DataFrame =
    docs.select(col("*"), posexplode_outer(buckets).as(Seq("band", "bucket")))

  /** Pairs of rows sharing a (band, bucket), with `id_a < id_b`: columns
    * `band`, `bucket`, and each column `c` of `docs` as `c_a` and `c_b`.
    * `docs` must have an `id` column.
    *
    * Buckets over `maxBucketSize` rows are dropped (the skew guard: the
    * pair join is quadratic in bucket size). The size is a count window
    * over the bucket key, which shares the join's exchange and sort; the
    * trade-off is that the window buffers a hot bucket's rows (spillable)
    * before the cap drops them. Dropped work is NOT silent: pass
    * `dropObs` (a fresh [[Observation]]) and after any action on the
    * result read `dropped_rows` / `dropped_buckets`. With no cap and no
    * `dropObs` the window is skipped. AQE caveat: a completely EMPTY
    * final output can be empty-propagated over the metrics node at
    * runtime (Observation reports {}); audit runs that must count drops
    * even then should disable `spark.sql.adaptive.enabled`. */
  def pairs(docs: DataFrame, buckets: Column, maxBucketSize: Int,
      dropObs: Option[Observation]): DataFrame = {
    val exploded = explode(docs, buckets)
    val capped =
      if (maxBucketSize == Int.MaxValue && dropObs.isEmpty) exploded
      else {
        val sized = exploded.withColumn("__bsize",
          count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
        // each oversized bucket's rows count 1 each (Σ = dropped_rows) and
        // 1/bsize each (Σ = exact dropped-bucket count, rounded against fp
        // drift)
        val observed = dropObs.map(o => sized.observe(o,
            sum(when(col("__bsize") > maxBucketSize, 1L).otherwise(0L))
              .as("dropped_rows"),
            round(sum(when(col("__bsize") > maxBucketSize,
                lit(1.0) / col("__bsize")).otherwise(lit(0.0))))
              .cast("long").as("dropped_buckets")))
          .getOrElse(sized)
        observed.filter(col("__bsize") <= maxBucketSize).drop("__bsize")
      }
    def side(s: String) = capped.select(col("band") +: col("bucket") +:
      docs.columns.toSeq.map(c => col(c).as(s"${c}_$s")): _*)
    // merge hint: the static optimizer underestimates the exploded bucket
    // table and broadcasts it — one hash relation of a row per (doc,
    // band), collected into a single process, wrong at any scale; the
    // self-join must shuffle on the bucket key
    side("a").hint("merge").join(side("b"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
  }
}
