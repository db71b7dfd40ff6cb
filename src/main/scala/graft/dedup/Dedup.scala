package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication — the reference's only cross-document operator
  * (/root/reference/src/deduper.rs, src/bloom_filter.rs).
  *
  * The reference shares one Bloom filter across threads and labels any
  * re-seen key a duplicate (probe-then-insert, deduper.rs:289-305). The
  * Spark-native equivalent is a first-occurrence window: shuffle on the
  * key, keep the first row in a deterministic order, label the rest. This
  * is EXACT (no false positives, unlike the BF whose FP rate is the
  * configured 1e-4); [[DistributedBloom]] provides the BF-faithful
  * memory-bounded alternative.
  *
  * Scale notes (100 TB): the window shuffles once on the dedup key — same
  * cost class as the reference's `num_partitions` manual key routing
  * (deduper.rs:97-111). Skewed keys (empty strings, giant duplicate
  * clusters) are handled by the skip rules below (min length / skip empty,
  * deduper.rs:261-276) which drop the pathological keys before the
  * shuffle, plus AQE skew handling for the rest.
  */
object Dedup {

  /** Doc-level dedup: adds `is_duplicate` (first occurrence in
    * `orderCol` order wins — the positional order the reference gets from
    * its sequential file walk). Skip rules mirror deduper.rs:261-276:
    * too-short, empty, or NULL keys are never marked duplicates
    * (eligibility null-coalesces to false, so the flag is always a real
    * boolean — a null flag would be dropped by `filter(!flag)` but kept
    * by the mixer's coalescing predicate).
    *
    * Skew: ineligible rows are spread across synthetic window keys
    * instead of riding their real key — otherwise every empty/short key
    * lands in ONE window partition (an unsplittable straggler at scale;
    * AQE splits skewed joins, not windows). Eligibility is a function of
    * the key alone, so rerouting ineligible rows cannot change any
    * eligible row's row number. */
  def markDuplicates(
      df: DataFrame,
      keyCol: Column,
      orderCol: Column,
      minLength: Int = 0,
      skipEmpty: Boolean = false): DataFrame = {
    val eligible = coalesce(
      (if (skipEmpty) trim(keyCol) =!= "" else lit(true)) &&
        (length(keyCol) >= minLength), lit(false))
    val spread = when(col("__eligible"), keyCol.cast("string"))
      .otherwise(concat(lit("__skip:"),
        pmod(coalesce(orderCol.cast("long"), lit(0L)), lit(1024L)).cast("string")))
    val w = Window.partitionBy(spread).orderBy(orderCol)
    df.withColumn("__eligible", eligible)
      .withColumn("is_duplicate",
        col("__eligible") && row_number().over(w) > 1)
      .drop("__eligible")
  }

  /** Paragraph-level dedup (deduper.rs:320-379): explode paragraphs
    * (separator `\n`), mark re-seen paragraph texts; emits one row per
    * duplicate paragraph with its span — the attribute the reference
    * writes. Returns `(id, para_index, para, is_duplicate)`.
    *
    * Scale: the window is keyed on a 96-bit hash of the paragraph
    * (xxhash64 + murmur3 — independent functions; chaining xxhash64 with a
    * literal would NOT add independent bits since Spark seeds the chain
    * with the running hash), never on the raw text. Because no window
    * expression references `para`, Catalyst prunes the text out of the
    * shuffle whenever the caller doesn't select it — shuffle bytes become
    * O(rows × 16B key) instead of O(corpus text). Collision-induced false
    * positives (~2^-96 per pair) are far below the reference Bloom
    * filter's configured 1e-4 FP rate. */
  def paragraphDuplicates(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      orderCol: Column): DataFrame = {
    val paras = df
      .select(idCol.as("id"), orderCol.as("__ord"),
        posexplode(split(textCol, "\n")).as(Seq("para_index", "para")))
      .withColumn("__h1", xxhash64(col("para")))
      .withColumn("__h2", hash(col("para")))
      .withColumn("__nonempty", trim(col("para")) =!= "")
    // empty paragraphs (every blank-line separator in the corpus) all
    // hash identically — billions of rows in ONE window partition at
    // scale. They are never marked anyway (__nonempty gates the flag), so
    // spread them across synthetic keys; real paragraphs keep (h1, h2).
    val w = Window.partitionBy(
        when(col("__nonempty"), col("__h1"))
          .otherwise(pmod(col("__ord"), lit(4096L))),
        when(col("__nonempty"), col("__h2")).otherwise(col("para_index")))
      .orderBy(col("__ord"), col("para_index"))
    paras
      .withColumn("is_duplicate",
        col("__nonempty") && row_number().over(w) > 1)
      .drop("__ord", "__h1", "__h2", "__nonempty")
  }

  /** N-gram-overlap paragraph dedup (deduper.rs:380-466): uniseg-style
    * tokenize each paragraph, hash every `n`-gram with `stride`, compute
    * the fraction of n-grams already seen EARLIER (in other documents or
    * earlier in the same one — probe-then-insert, like the reference's
    * shared Bloom filter); fraction ≥
    * threshold → duplicate paragraph. Short paragraphs (< n tokens) fall
    * back to whole-paragraph comparison (deduper.rs:421-452).
    * Two shuffles: ngram first-occurrence, then per-paragraph rollup. */
  def ngramOverlapDuplicates(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      orderCol: Column,
      n: Int = 8,
      stride: Int = 0,
      threshold: Double = 0.7): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val paras = df.select(
      idCol.as("id"), orderCol.as("__ord"),
      posexplode(split(textCol, "\n")).as(Seq("para_index", "para")))
      .filter(trim($"para") =!= "")

    val step = math.max(1, stride)
    // one-pass custom expression: tokenize + window + hash per paragraph
    // in a tight loop (a declarative split/slice/concat_ws chain would
    // build every gram as a string before hashing it)
    val grams = paras
      .select($"id", $"__ord", $"para_index",
        explode(graft.functions.Hashing.ngramHashes($"para", n, step)).as("gram"))

    val w = Window.partitionBy($"gram").orderBy($"__ord", $"para_index")
    val marked = grams.withColumn("dup", row_number().over(w) > 1)

    marked.groupBy($"id", $"para_index")
      .agg(count(lit(1)).as("total"), sum(when($"dup", 1).otherwise(0)).as("dups"))
      .withColumn("overlap_fraction", $"dups" / $"total")
      .withColumn("is_duplicate", $"overlap_fraction" >= threshold)
  }

  /** Duplicate-CLUSTER resolution: connected components over a near-dup
    * PAIR table (the output shape of [[MinHashLSH]], [[SimHash]],
    * [[MinHashLSH.exactJaccardPairs]], `Ann.cosineNearDupPairs`), so a
    * caller can keep one representative per cluster instead of dropping
    * both ends of every pair (which over-deletes on transitive chains
    * A~B~C).
    *
    * Algorithm: distributed min-label propagation with POINTER DOUBLING
    * — every node starts labeled with itself; each round, a node's label
    * becomes the min of its own and its neighbors' labels (one edge hop),
    * then labels are shortcut through themselves (`label ← label(label)`,
    * the pointer-jumping step), so the effective reach doubles every
    * round and convergence is O(log diameter) instead of O(diameter):
    * a 1,000-link chain resolves in ~10 rounds, well inside the default
    * `maxIters` (clique-like near-dup clusters still finish in 2–3).
    * Each round is two joins + one groupBy.min on (node, label) pairs —
    * no vertex ever holds its component in memory, so components of any
    * size are fine. `localCheckpoint` truncates the per-round lineage
    * (the iterative-algorithm requirement; same pattern as MLlib's
    * connected components). Deterministic: the cluster id is the
    * component's minimum node id.
    */
  def duplicateClusters(pairs: DataFrame, idACol: Column, idBCol: Column,
      maxIters: Int = 20): DataFrame = {
    // symmetrize in ONE pass over the pair table — explode of the two
    // orientations, not a unionAll whose branches would each re-execute
    // the (possibly expensive) upstream pair-candidate DAG. The
    // checkpoint keeps no partitioning (its scan reports
    // UnknownPartitioning), so each round's join or groupBy exchanges the
    // edge table on its own key.
    val sym = pairs
      .select(explode(array(
        struct(idACol.as("a"), idBCol.as("b")),
        struct(idBCol.as("a"), idACol.as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .localCheckpoint()
    // empty pair table: no nodes, nothing to propagate (and the per-round
    // Observation below would never fire over an empty checkpoint plan)
    if (sym.isEmpty)
      return sym.select(col("a").as("id"), col("a").as("cluster"))
    // labels(id, label) — materialized lazily from round 1's output.
    // Round 0 is the exact specialization label(x) = x: the node set is
    // exactly sym's key set (every symmetric edge endpoint appears as
    // `a`), so the neighbor minimum is a plain map-side-combined groupBy
    // over the edge table with no identity-label join and no separate
    // distinct-nodes pass.
    var labels: DataFrame = null
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // min label among neighbors, folded into each node's own label.
      // The previous label rides along as __old so the convergence check
      // is a filter over the checkpointed round output — no extra join,
      // no second pass over the edge table per round.
      val propagated =
        if (it == 0)
          sym.groupBy(col("a")).agg(min(col("b")).as("__nl"))
            .select(col("a").as("id"), col("a").as("__old"),
              least(col("a"), col("__nl")).as("label"))
        else {
          val neighborMin = sym
            .join(labels.select(col("id").as("b"), col("label")), Seq("b"))
            .groupBy(col("a")).agg(min(col("label")).as("__nl"))
            .select(col("a").as("id"), col("__nl"))
          labels
            .join(neighborMin, Seq("id"), "left")
            .select(col("id"), col("label").as("__old"),
              least(col("label"), coalesce(col("__nl"), col("label"))).as("label"))
        }
      // pointer doubling: every label value is itself a node id (labels
      // are mins over node ids), so label(label) is always defined; the
      // inner self-join therefore preserves all rows, and since labels
      // only decrease monotonically, least() equals label(label) — kept
      // for robustness.
      // the convergence metric rides the checkpoint materialization as an
      // Observation — the former filter+limit+count was one extra job and
      // one extra full pass over the label table per round. The loop is
      // only entered with a non-empty label table, so the observed plan
      // always produces rows and the metric always fires.
      val obs = org.apache.spark.sql.Observation()
      val updated = propagated
        .join(propagated.select(col("id").as("label"), col("label").as("__ll")),
          Seq("label"))
        .select(col("id"), col("__old"),
          least(col("label"), col("__ll")).as("label"))
        .observe(obs, sum(when(col("label") =!= col("__old"), 1L)
          .otherwise(0L)).as("changed"))
        .localCheckpoint()
      val changed = obs.get("changed").asInstanceOf[Long] > 0L
      labels = updated.select(col("id"), col("label"))
      converged = !changed
      it += 1
    }
    require(converged,
      s"duplicateClusters did not converge in $maxIters rounds (reach is " +
        s"2^rounds edges, so this graph's diameter exceeds ~2^$maxIters — " +
        "raise maxIters)")
    labels.select(col("id"), col("label").as("cluster"))
  }
}
