package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - [[cosineTopK]]: brute-force exact top-k against a literal query
  *   vector — one narrow scan + a k-row `orderBy.limit` (Spark turns it
  *   into TakeOrderedAndProject: per-partition heaps, no full sort).
  * - [[lshBucketedTopK]]: random-hyperplane LSH (Charikar 2002) scale path
  *   — probe only the query's bucket(s), trading recall for a ~2^bits scan
  *   reduction; at 100 TB the bucket column is a partition key so the
  *   probe prunes files instead of scanning them.
  * - [[ivfAssign]]: IVF-style coarse quantization — assign each vector to
  *   the nearest of `centroids`; search probes only the closest lists.
  *
  * All distance math is Catalyst (`zip_with`/`aggregate` folds) — stays in
  * whole-stage codegen, no UDF boxing.
  */
object Ann {

  /** Dot product of an array<double|float> column with a literal vector. */
  def dotLiteral(vec: Column, q: Seq[Double]): Column = {
    val qCol = array(q.map(lit): _*)
    aggregate(zip_with(vec, qCol, (a, b) => a.cast("double") * b), lit(0.0), (acc, x) => acc + x)
  }

  def norm(vec: Column): Column =
    sqrt(aggregate(vec, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine against a literal query. Guarded like [[cosine]]: a zero-norm
    * corpus vector (padding / failed-embed sentinel) yields NULL — under
    * ANSI (Spark 4 default) the raw 0/0 would throw DIVIDE_BY_ZERO, and
    * in legacy mode the NaN would sort ABOVE every real score and win
    * the top-k. NULLs order last under `desc`. */
  def cosineLiteral(vec: Column, q: Seq[Double]): Column = {
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val den = norm(vec) * lit(qNorm)
    // NaN guard too: Spark evaluates NaN > 0 as TRUE (NaN sorts largest),
    // so a failed-embed NaN vector would rank #1 under desc
    when(den > 0 && !isnan(den), dotLiteral(vec, q) / den)
  }

  /** Exact top-k cosine neighbors of `query`. */
  def cosineTopK(df: DataFrame, idCol: Column, vecCol: Column,
      query: Seq[Double], k: Int): DataFrame =
    df.select(idCol.as("id"), cosineLiteral(vecCol, query).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)

  /** Pairwise cosine between two embedding columns (for joins). NULL for
    * zero-norm inputs: under ANSI mode (Spark 4 default) the 0/0 would
    * THROW, and in legacy mode it yields NaN which Spark orders above
    * every double — either way a degenerate all-zero embedding must not
    * satisfy `cosine >= threshold`, so the division is guarded and the
    * no-signal case surfaces as NULL (falsy in any comparison). */
  def cosine(a: Column, b: Column): Column = {
    val den = norm(a) * norm(b)
    when(den > 0,
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x) / den)
  }

  /** Random-hyperplane signature: `bits` sign bits of projections onto
    * deterministic pseudo-random hyperplanes (seeded by index — no stored
    * model). Returns a long bucket id. One native Catalyst expression
    * ([[graft.functions.HyperplaneBucketExpr]]) — the former declarative
    * `bits × aggregate(zip_with(vec, array(dim literals)))` formulation
    * spent seconds of plan-compile on its O(bits·dim) node tree and built
    * `bits` intermediate arrays per row; bucket ids are unchanged. */
  def hyperplaneBucket(vec: Column, dim: Int, bits: Int, seed: Long = 42L): Column =
    graft.functions.Hashing.hyperplaneBucket(vec, dim, bits, seed)

  /** LSH-bucketed approximate top-k: scan only rows whose bucket matches
    * the query's bucket (multi-probe: plus buckets at Hamming distance 1).
    */
  def lshBucketedTopK(df: DataFrame, idCol: Column, vecCol: Column,
      query: Seq[Double], k: Int, bits: Int = 8, seed: Long = 42L): DataFrame = {
    val dim = query.length
    val planes = graft.functions.Hashing.hyperplanes(dim, bits, seed)
    var qBucket = 0L
    planes.zipWithIndex.foreach { case (plane, i) =>
      val proj = plane.zip(query).map { case (p, x) => p * x }.sum
      if (proj >= 0) qBucket |= (1L << i)
    }
    val probes = qBucket +: (0 until bits).map(i => qBucket ^ (1L << i))
    val bucketCol = hyperplaneBucket(vecCol, dim, bits, seed)
    df.withColumn("__bucket", bucketCol)
      .filter(col("__bucket").isin(probes: _*))
      .select(idCol.as("id"), cosineLiteral(vecCol, query).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate PAIRS (the pairwise counterpart to
    * the query-centric [[lshBucketedTopK]]): random-hyperplane bucketing
    * proposes, exact pairwise cosine disposes.
    *
    * Recall: identical vectors project to identical sign bits, so exact
    * duplicates always share a bucket — recall 1 by construction FOR
    * CLUSTERS UNDER `maxBucketSize` (the property the oracle exercises;
    * a duplicate cluster larger than the cap is dropped by the skew
    * guard, and the drop is surfaced through `dropObs`, below). A
    * merely-near pair at angle θ shares the bucket with probability
    * (1-θ/π)^bits — raise recall by unioning several `seed`s
    * (independent hash tables), the standard Charikar amplification;
    * each table adds one bucket row per vector to the same scan and
    * bucket shuffle.
    *
    * Scale: vectors never fan out (one bucket row per vector per table);
    * the wide ops are the bucket self-join and the per-pair verify.
    * Degenerate buckets (zero vectors, constant embeddings) are capped by
    * `maxBucketSize` — the skew guard of [[graft.dedup.BucketJoin.pairs]],
    * which the MinHash and SimHash pair operators share — and the cap is
    * observable: pass `dropObs` and read `dropped_rows` /
    * `dropped_buckets` after an action, so truncated coverage never
    * silently reads as full coverage.
    *
    * Degenerate zero-norm vectors cosine to NaN (0/0), and Spark orders
    * NaN above every double — an unguarded `>= minCosine` would emit
    * false pairs for all-zero embeddings sharing the all-ones bucket.
    * The verify treats NaN as -1 (no similarity evidence), so zero-norm
    * vectors never pair. */
  def cosineNearDupPairs(df: DataFrame, idCol: Column, vecCol: Column,
      dim: Int, minCosine: Double, bits: Int = 12, seeds: Seq[Long] = Seq(42L),
      maxBucketSize: Int = 1000, dropObs: Option[Observation] = None): DataFrame = {
    val verified = graft.dedup.BucketJoin.pairs(
        df.select(idCol.as("id"), vecCol.as("v")),
        array(seeds.map(hyperplaneBucket(col("v"), dim, bits, _)): _*),
        maxBucketSize, dropObs)
      .select(col("id_a"), col("id_b"),
        nanvl(cosine(col("v_a"), col("v_b")), lit(-1.0)).as("cosine"))
      .filter(col("cosine") >= minCosine)
    // cross-table pair dedup: a vector has exactly ONE bucket per table,
    // so with a single hash table every pair is generated at most once
    // and the dedup aggregation (an exchange over the whole verified pair
    // stream) is provably a no-op — skip it. Multiple tables (the recall
    // amplification path) can propose the same pair once per table and
    // keep the groupBy; the cosine is table-invariant, so max == the
    // single value either way.
    if (seeds.size <= 1) verified
    else verified
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("cosine")).as("cosine"))
  }

  /** Distributed Lloyd's k-means over the embedding column: assignment is
    * the [[ivfAssign]] Catalyst expression (narrow), the centroid update
    * is `posexplode` → `groupBy(cluster, dim).avg` (one map-side-combined
    * shuffle per iteration). Only k×dim doubles ever reach the driver —
    * the model-parameter pattern, same as MLlib. Deterministic: seeds are
    * the first k vectors in `idCol` order. */
  def kmeansTrain(df: DataFrame, idCol: Column, vecCol: Column,
      k: Int, iters: Int): Seq[Seq[Double]] = {
    var centroids: Seq[Seq[Double]] = df.orderBy(idCol).limit(k)
      .select(vecCol.cast("array<double>").as("v"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    var it = 0
    while (it < iters) {
      val updated = df
        .select(ivfAssign(vecCol, centroids).as("c"),
          posexplode(vecCol.cast("array<double>")).as(Seq("pos", "x")))
        .groupBy(col("c"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      // empty clusters keep their previous centroid
      centroids = centroids.indices.map(i => updated.getOrElse(i, centroids(i)))
      it += 1
    }
    centroids
  }

  /** Within-cluster sum of squared L2 distances for a given centroid set
    * (k-means objective — must be non-increasing over Lloyd iterations). */
  def kmeansSse(df: DataFrame, vecCol: Column, centroids: Seq[Seq[Double]]): Double = {
    val dists = centroids.map { c =>
      aggregate(
        zip_with(vecCol, array(c.map(lit): _*),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, x) => acc + x)
    }
    df.select(array_min(array(dists: _*)).as("d"))
      .agg(sum(col("d"))).head().getDouble(0)
  }

  /** IVF coarse assignment: index of the nearest centroid (L2), ties to
    * the lowest index (array_position finds the FIRST minimum). Centroids
    * are passed as literals (k-means seeds = deterministic sample rows).
    * Plain array ops — no named struct fields, which CleanupAliases
    * strips when the expression shares a select with a generator. */
  def ivfAssign(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val dists = array(centroids.map { c =>
      aggregate(
        zip_with(vec, array(c.map(lit): _*), (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }
}
