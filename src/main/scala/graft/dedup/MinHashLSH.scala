package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection (Broder 1997 resemblance
  * sketches; banding per Leskovec/Rajaraman/Ullman MMDS ch.3) — the scale
  * path for near-dedup the reference approximates with n-gram Bloom
  * probes (/root/reference/src/deduper.rs:380-466).
  *
  * Pipeline (all expressed as Catalyst columns, no UDFs):
  *   shingle (word k-grams) → 64-bit hash → `numPerms` minhashes via the
  *   1-permutation rotation trick (xxhash64 with per-perm seed) → split
  *   into `bands` × `rowsPerBand` → explode bands → shuffle on band hash →
  *   candidate pairs within a bucket → exact Jaccard verify.
  *
  * Scale: the only wide op is the exchange on the band bucket, shared by
  * the bucket-size cap and the pair self-join ([[BucketJoin]]); bucket
  * sizes are bounded by banding (tune
  * bands/rows for target similarity s ≈ (1/b)^(1/r)). Giant buckets from
  * degenerate content (empty/boilerplate) are capped by `maxBucketSize`.
  */
object MinHashLSH {

  /** Shingle hashes: xxhash64 of each k-word window.
    *
    * NOTE for hot paths: `toks` here is an expression TREE, so every
    * reference inside the window lambda re-evaluates the split — O(words²)
    * per doc when `textCol` is the raw text column. Fine for the verify
    * stage's small candidate sets; bulk callers should pre-project the
    * token array and pass [[shingleHashesOfTokens]] an attribute instead
    * (see [[exactJaccardPairs]]). */
  def shingleHashes(textCol: Column, k: Int): Column =
    shingleHashesOfTokens(tokens(textCol), k)

  /** Lowercased whitespace tokens (empties dropped). */
  def tokens(textCol: Column): Column =
    filter(split(lower(textCol), "\\s+"), t => t =!= "")

  /** Shingle hashes over an already-computed token-array column. When
    * `toksCol` is a bound attribute (its own projection), each row's
    * tokens are computed once and every window reads the same array. */
  def shingleHashesOfTokens(toksCol: Column, k: Int): Column = {
    val starts = sequence(lit(0), greatest(size(toksCol) - k, lit(0)), lit(1))
    array_distinct(
      when(size(toksCol) < k, array(xxhash64(concat_ws(" ", toksCol))))
        .otherwise(transform(starts, s =>
          xxhash64(concat_ws(" ", slice(toksCol, s + 1, lit(k)))))))
  }

  /** MinHash signature over k-word shingles: one-pass custom expression
    * (see [[graft.functions.MinHashSigExpr]] — the numPerms×transform
    * Catalyst formulation re-walks the shingle array per permutation). */
  def signature(textCol: Column, k: Int, numPerms: Int): Column =
    graft.functions.Hashing.minhashSignature(textCol, k, numPerms)

  /** Band-bucket hash of band `b` of a signature column. */
  private def bandBucket(sig: Column, b: Int, rowsPerBand: Int): Column =
    xxhash64(concat_ws(",",
      slice(sig, b * rowsPerBand + 1, rowsPerBand).cast("array<string>")))

  /** Documents → (id, band, bandHash) rows. */
  def bandedBuckets(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 5, numPerms: Int = 32, bands: Int = 8): DataFrame =
    BucketJoin.explode(bandArrays(df, idCol, textCol, k, numPerms, bands), col("__ab"))
      .select(col("id"), col("sig"), col("band"), col("bucket"))

  /** Documents → (id, sig, `__ab`) rows: `__ab` is the doc's FULL
    * band-bucket array (computed once per document, 8 bytes × bands). The
    * first-match pair-dedup predicate reads earlier bands from the two
    * arrays instead of re-hashing signature slices per pair row — same
    * bucket values, O(1) expression nodes per band instead of a
    * bands²-node when-chain. */
  private def bandArrays(df: DataFrame, idCol: Column, textCol: Column,
      k: Int, numPerms: Int, bands: Int): DataFrame = {
    val rowsPerBand = numPerms / bands
    require(bands * rowsPerBand == numPerms, "bands must divide numPerms")
    val withSig = df.select(idCol.as("id"), signature(textCol, k, numPerms).as("sig"))
    val allBuckets = array((0 until bands).map(b =>
      bandBucket(col("sig"), b, rowsPerBand)): _*)
    withSig.select(col("id"), col("sig"), allBuckets.as("__ab"))
  }

  /** Candidate near-duplicate pairs with estimated Jaccard from signature
    * agreement, deduplicated across bands. The bucket join, the
    * `maxBucketSize` skew guard and its `dropObs` metrics
    * (`dropped_rows` / `dropped_buckets`) are [[BucketJoin.pairs]]'s.
    *
    * Pair dedup is shuffle-free: a pair colliding in several bands is
    * emitted ONLY from the lowest colliding band — the predicate compares
    * the precomputed band-bucket arrays of the two docs over bands <
    * `band` and requires every earlier bucket pair to differ (bucket-hash
    * inequality, the exact negation of the join condition). With no
    * bucket dropped, the emitted rows equal what a
    * `groupBy(id_a, id_b).max(est_jaccard)` over all colliding bands
    * produces (est_jaccard comes from the full signatures and is
    * band-invariant). Under a finite cap they do not: the predicate reads
    * the full, pre-cap arrays, so a pair whose lowest colliding band fell
    * in a dropped bucket is suppressed in every surviving band too, and
    * `dropObs` does not count it. */
  def nearDuplicatePairs(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 5, numPerms: Int = 32, bands: Int = 8,
      minJaccard: Double = 0.5, maxBucketSize: Int = 1000,
      dropObs: Option[Observation] = None): DataFrame = {
    val firstMatch = size(filter(
      zip_with(slice(col("__ab_a"), lit(1), col("band")),
        slice(col("__ab_b"), lit(1), col("band")), (x, y) => x === y),
      e => e)) === 0
    BucketJoin.pairs(bandArrays(df, idCol, textCol, k, numPerms, bands),
        col("__ab"), maxBucketSize, dropObs)
      .filter(firstMatch)
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), e => e))
          .cast("double") / lit(numPerms)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** LSH candidates verified with exact shingle-set Jaccard: banding
    * proposes, the exact join disposes. The output depends only on the
    * shingle SETS (not on minhash estimation), so it is oracle-checkable;
    * the residual error is the banding miss probability (1-s^r)^b per
    * pair at similarity s — ~1e-2 at s=0.5 and ~1e-7 at s=0.8 with
    * b=16, r=2. Scale shape: candidate pairs are tiny relative to the
    * corpus, so the two text-fetch joins broadcast the pair list.
    *
    * Candidates are prefiltered on estimated Jaccard at
    * `minJaccard - estSlack` before any text is fetched: at 100 TB the
    * raw bucket-collision pair set is far larger than the near-dup set,
    * and without the prefilter every colliding pair flows into two text
    * joins. The slack absorbs minhash estimation error; the default
    * (estSlack = NaN) derives ~3σ of the estimator's worst-case std,
    * `3·sqrt(0.25/numPerms)` (≈ 0.265 at 32 perms), so a true pair right
    * at `minJaccard` is dropped with probability ~1e-3 — below the
    * documented banding miss, not on top of it. Pass an explicit smaller
    * slack only when the collision pair set is the dominant cost and the
    * extra recall is worth trading away.
    *
    * Skew: a hot template (one doc near-dup'd by thousands) makes a
    * single `id_a`/`id_b` value carry most of the candidate pairs, so
    * the text-fetch joins hotspot one task. `textJoinSalt > 0` salts
    * them: the unique-per-id text side is replicated `textJoinSalt`
    * ways and each pair row picks the replica by hashing its OTHER id
    * (which varies across a hot id's pairs), spreading a hot key over
    * `textJoinSalt` tasks at the cost of a textJoinSalt× larger text
    * side — same output, shuffle-balanced. 0 (default) keeps the plain
    * joins and leaves residual skew to AQE's runtime skew-join split. */
  def verifiedNearDuplicatePairs(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 5, numPerms: Int = 32, bands: Int = 16,
      minJaccard: Double = 0.5, maxBucketSize: Int = 1000,
      estSlack: Double = Double.NaN, textJoinSalt: Int = 0,
      dropObs: Option[Observation] = None): DataFrame = {
    val slack =
      if (estSlack.isNaN) 3.0 * math.sqrt(0.25 / numPerms) else estSlack
    val cand = nearDuplicatePairs(df, idCol, textCol, k, numPerms, bands,
      minJaccard = math.max(0.0, minJaccard - slack),
      maxBucketSize = maxBucketSize, dropObs = dropObs)
      .select(col("id_a"), col("id_b"))
    // fetch PRECOMPUTED shingle-hash sets, not texts: exactJaccard over a
    // raw text column re-evaluates the tokenization inside the per-window
    // lambda (O(words²) per pair row — the shingleHashes docstring
    // hazard); shingling each doc once in its own projection and joining
    // the 8-byte-hash arrays makes the verify O(words) per pair row with
    // the identical Jaccard value (same shingle sets, same division).
    val shingles = df.select(idCol.as("__tid"),
      graft.functions.Hashing.sortedShingleHashes(textCol, k).as("__tsh"))
    val fetched =
      if (textJoinSalt <= 0)
        cand
          .join(shingles.select(col("__tid").as("id_a"), col("__tsh").as("__sh_a")), Seq("id_a"))
          .join(shingles.select(col("__tid").as("id_b"), col("__tsh").as("__sh_b")), Seq("id_b"))
      else {
        val s = lit(textJoinSalt)
        val reps = explode(sequence(lit(0), s - 1)).as("__salt")
        val shA = shingles.select(col("__tid").as("id_a"),
          col("__tsh").as("__sh_a"), reps)
        val shB = shingles.select(col("__tid").as("id_b"),
          col("__tsh").as("__sh_b"), reps)
        cand
          .withColumn("__salt", pmod(xxhash64(col("id_b")), s).cast("int"))
          .join(shA, Seq("id_a", "__salt"))
          .withColumn("__salt", pmod(xxhash64(col("id_a")), s).cast("int"))
          .join(shB, Seq("id_b", "__salt"))
      }
    fetched
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double") /
          greatest(size(array_union(col("__sh_a"), col("__sh_b"))), lit(1)).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Exact n-gram Jaccard between two texts (verification stage). */
  def exactJaccard(aText: Column, bText: Column, k: Int): Column = {
    val a = shingleHashes(aText, k)
    val b = shingleHashes(bText, k)
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")
  }

  /** Exhaustive n-gram Jaccard near-duplicate pairs via a distributed
    * inverted index — no sketching, recall 1 (the exact counterpart to
    * [[verifiedNearDuplicatePairs]]'s LSH proposal stage; the standard
    * "all-pairs similarity" shape of Bayardo et al., WWW'07).
    *
    * Shape: per-doc DISTINCT shingle hashes → explode → self-join on the
    * 8-byte hash (the shuffle carries only (hash, id, setSize) — no text)
    * → count shared shingles per pair (map-side combined) → one division
    * against the set sizes riding along the pair key. Exact because
    * |A∩B| = shared postings and |A∪B| = |A|+|B|-shared; the only
    * approximation is the 2^-64 shingle-hash collision (same as the
    * verify stage above).
    *
    * Scale: pair generation is quadratic in a shingle's doc-frequency, so
    * boilerplate shingles shared by millions of docs explode the join;
    * `maxShingleDf` drops postings above that doc-frequency (a standard
    * prefix-filtering surrogate — a shingle in >df docs contributes at
    * most df-1 of any doc's intersection, so for high thresholds over
    * long docs the recall loss is negligible and bounded; None = exact).
    */
  def exactJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 5, minJaccard: Double = 0.5,
      maxShingleDf: Option[Long] = None,
      prefixFilter: Boolean = false,
      dropObs: Option[Observation] = None): DataFrame = {
    // one-pass custom expression: tokenize + shingle + hash + sort +
    // dedup per row in a tight loop (the former three-stage declarative
    // projection built every shingle string before hashing it)
    val sized = df.select(idCol.as("id"),
        graft.functions.Hashing.sortedShingleHashes(textCol, k).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("n"))
    if (prefixFilter) prefixFilteredPairs(sized, minJaccard, maxShingleDf, dropObs)
    else {
      val postings = sized.select(col("id"), col("n"), explode(col("sh")).as("g"))
      val kept = maxShingleDf match {
        case Some(cap) =>
          val dfs = postings.groupBy(col("g")).agg(count(lit(1)).as("__df"))
          // surface what the df cap throws away (dropped postings =
          // hot-shingle occurrences excluded from intersection counting).
          // The df table rides an inner join instead of a semi-join so
          // the observe sits on the MAIN posting stream — metrics inside
          // the broadcast the tiny df table becomes would never reach
          // the Observation. Each dropped posting counts 1; 1/df sums to
          // the exact dropped-shingle count (rounded against fp drift).
          val joined = postings.join(dfs, Seq("g"))
          val observed = dropObs.map(o => joined.observe(o,
              sum(when(col("__df") > cap, 1L).otherwise(0L))
                .as("dropped_postings"),
              round(sum(when(col("__df") > cap, lit(1.0) / col("__df"))
                .otherwise(lit(0.0)))).cast("long").as("dropped_shingles")))
            .getOrElse(joined)
          observed.filter(col("__df") <= cap).drop("__df")
        case None =>
          // a caller-supplied Observation must still complete (obs.get
          // would otherwise block forever): observe zero drops
          dropObs.map(o => postings.observe(o,
              sum(lit(0L)).as("dropped_postings"),
              sum(lit(0L)).as("dropped_shingles")))
            .getOrElse(postings)
      }
      val a = kept.select(col("g"), col("id").as("id_a"), col("n").as("n_a"))
      val b = kept.select(col("g"), col("id").as("id_b"), col("n").as("n_b"))
      // merge hint: the static optimizer underestimates the exploded
      // postings side and broadcasts it (a driver-built hash table of the
      // whole inverted index — wrong at any scale); the postings self-join
      // must shuffle both sides on the 8-byte shingle key (spillable SMJ)
      a.hint("merge").join(b, Seq("g"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
        .agg(count(lit(1)).as("shared"))
        .select(col("id_a"), col("id_b"),
          (col("shared").cast("double") /
            (col("n_a") + col("n_b") - col("shared")).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= minJaccard)
    }
  }

  /** Prefix-filtered all-pairs (Chaudhuri et al. ICDE'06 / Bayardo et
    * al. WWW'07), LOSSLESS for a fixed `minJaccard`: index only each
    * doc's first `n - ceil(τ·n) + 1` shingles in the global hash order.
    * If J(A,B) ≥ τ, the smallest common shingle c satisfies c ∈
    * prefix(A): were c beyond A's prefix, A would hold ≥ ⌈τ|A|⌉
    * elements smaller than c, none shared with B (c is the smallest
    * common), so |A∩B| < τ|A| ≤ τ|A∪B| — contradiction. Symmetrically
    * c ∈ prefix(B), so the prefix-postings join proposes every
    * qualifying pair; an exact array-intersection verify disposes.
    * Shuffle volume drops by ~τ× on the postings and quadratically on
    * hot-shingle pair generation — the 100-TB default.
    *
    * The ceiling is computed on a DOUBLE product, which for some (τ, n)
    * overshoots the true rational ceiling by 1 (e.g. τ=0.28 · n=25 =
    * 7.000000000000001, ceil → 8 where ⌈7⌉ = 7), shortening the prefix
    * below the lossless bound; the 1e-9 downward guard restores exact
    * ⌈τn⌉ for any representable τ (a one-longer prefix would also be
    * safe — only less pruning — but the guarded ceil is tight). */
  private def prefixFilteredPairs(sized: DataFrame, minJaccard: Double,
      maxShingleDf: Option[Long] = None,
      dropObs: Option[Observation] = None): DataFrame = {
    val pfx0 = sized.select(col("id"), col("n"),
      explode(slice(col("sh"), lit(1),
        (col("n") - ceil(col("n") * minJaccard - lit(1e-9)) + 1).cast("int"))).as("g"))
    // the df cap applies to the prefix INDEX here (hot boilerplate
    // shingles blow up the candidate join quadratically in either path);
    // same drop metrics as the unfiltered path, and a supplied
    // Observation always completes (zero drops when uncapped)
    val pfx = maxShingleDf match {
      case Some(cap) =>
        val dfs = pfx0.groupBy(col("g")).agg(count(lit(1)).as("__df"))
        val joined = pfx0.join(dfs, Seq("g"))
        val observed = dropObs.map(o => joined.observe(o,
            sum(when(col("__df") > cap, 1L).otherwise(0L))
              .as("dropped_postings"),
            round(sum(when(col("__df") > cap, lit(1.0) / col("__df"))
              .otherwise(lit(0.0)))).cast("long").as("dropped_shingles")))
          .getOrElse(joined)
        observed.filter(col("__df") <= cap).drop("__df")
      case None =>
        dropObs.map(o => pfx0.observe(o,
            sum(lit(0L)).as("dropped_postings"),
            sum(lit(0L)).as("dropped_shingles")))
          .getOrElse(pfx0)
    }
    val a = pfx.select(col("g"), col("id").as("id_a"))
    val b = pfx.select(col("g"), col("id").as("id_b"))
    val cand = a.hint("merge").join(b, Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sets = sized.select(col("id"), col("sh"), col("n"))
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("__sh_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("__sh_b"), col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sh_a"), col("__sh_b"))).as("shared"),
        col("n_a"), col("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
