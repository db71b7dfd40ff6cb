package graft.mixer

import graft.functions.SpanScrubber

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The mixer: join documents with attribute tables, evaluate keep/drop
  * predicates, rewrite text by span replacement, stamp provenance — the
  * Spark re-expression of the reference's Rust mixer
  * (/root/reference/src/shard.rs:188-507, src/mixer.rs:11-48). The
  * reference zips doc and attribute files by line position and asserts id
  * equality (shard.rs:288-365); here the positional zip becomes a k-way
  * LEFT equi-join on `id` (missing attribute rows tolerated, matching the
  * warn-and-keep behavior at shard.rs:326-349), broadcast when an attribute
  * table is small, sort-merge otherwise — Catalyst + AQE pick per table.
  */
object Mixer {

  /** A span-replacement rule (shard.rs:585-681 `SpanReplacementConfig`):
    * replace spans of `attribute` with `min <= score < max` by `template`
    * (`{}` = original span text). */
  final case class SpanReplacementRule(
      attribute: String,
      minScore: Double = Double.NegativeInfinity,
      maxScore: Double = Double.PositiveInfinity,
      template: String = "")

  final case class MixerConfig(
      include: Seq[Column] = Nil, // keep iff (no includes OR any include true)
      exclude: Seq[Column] = Nil, // ... AND no exclude true (filters.rs:327-385)
      spanReplacements: Seq[SpanReplacementRule] = Nil,
      discardFields: Seq[String] = Nil,
      minTextLength: Int = 0)

  /** Merge k attribute tables into the doc table: left joins on id, then
    * map-concat of the attribute maps (shard.rs:288-365).
    *
    * Attribute tables have exactly one (fat) row per document — the same
    * cardinality as the doc table — so broadcasting one is always wrong;
    * Catalyst's size estimate for a `mapPartitions` output is unreliable
    * and it will happily broadcast 60k span maps (driver collect +
    * per-task hash build). Pin sort-merge; genuinely small side tables
    * (blocklists, dims) should be joined by the caller with an explicit
    * `broadcast()`.
    *
    * An `attributes` column already on `docs` (e.g. tagged in place by
    * `TagRunner.withAttributes`) is the EARLIEST map: the tables win over
    * it on duplicate keys. */
  def mergeAttributes(docs: DataFrame, attrTables: Seq[DataFrame]): DataFrame = {
    val joined = attrTables.zipWithIndex.foldLeft(docs) { case (acc, (attrs, i)) =>
      val renamed = attrs.withColumnRenamed("attributes", s"__attrs_$i").hint("merge")
      acc.join(renamed, Seq("id"), "left")
    }
    val attrCols =
      (if (docs.columns.contains("attributes")) Seq(col("attributes")) else Nil) ++
        attrTables.indices.map(i => col(s"__attrs_$i"))
    if (attrTables.isEmpty) joined
    else {
      val mapType = org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        graft.operators.TagRunner.spanTripleType)
      val merged = attrCols
        .map(c => coalesce(c, map().cast(mapType)))
        .reduce((a, b) => map_concat_dedup(a, b))
      joined.withColumn("attributes", merged)
        .drop(attrTables.indices.map(i => s"__attrs_$i"): _*)
    }
  }

  /** map_concat with last-wins key collisions (dict.update semantics,
    * the reference inserts later attribute files over earlier ones,
    * shard.rs:322):
    * Spark's map_concat THROWS on duplicate keys under the default
    * EXCEPTION policy, but the reference merges attribute dicts with
    * later-wins everywhere. Shared by the mixer merge and the WARC
    * pre/post tagger fold. */
  def map_concat_dedup(a: Column, b: Column): Column =
    map_zip_with(a, b, (_, v1, v2) => coalesce(v2, v1))

  /** The keep predicate (src/filters.rs:327-385): include = OR across
    * include filters (empty → keep all); exclude drops if ANY is true.
    * Null attribute lookups evaluate to false (null→false semantics,
    * filters.rs:299-317). */
  def keepPredicate(cfg: MixerConfig): Column = {
    val inc =
      if (cfg.include.isEmpty) lit(true)
      else cfg.include.map(c => coalesce(c, lit(false))).reduce(_ || _)
    val exc =
      if (cfg.exclude.isEmpty) lit(false)
      else cfg.exclude.map(c => coalesce(c, lit(false))).reduce(_ || _)
    inc && !exc
  }

  /** Build the merged replacement-span array column from the configured
    * rules: each rule selects its attribute's spans in
    * `min_score <= score < max_score` (shard.rs:614-646) and tags them with
    * the rule's template. */
  def replacementSpans(cfg: MixerConfig): Column = {
    val perRule: Seq[Column] = cfg.spanReplacements.map { r =>
      val spans = coalesce(element_at(col("attributes"), r.attribute),
        array().cast(graft.operators.TagRunner.spanTripleType))
      val selected = filter(spans, s =>
        s.getField("score") >= lit(r.minScore) && s.getField("score") < lit(r.maxScore))
      transform(selected, s => struct(
        s.getField("start").as("start"),
        s.getField("end").as("end"),
        lit(r.template).as("template")))
    }
    if (perRule.isEmpty) array().cast(SpanScrubber.replacementArrayType)
    else perRule.reduce(concat(_, _))
  }

  /** Full mixer pipeline over a docs table carrying an `attributes` map
    * column (shard.rs order: filter → scrub → discard → min-length →
    * provenance, shard.rs:367-471). `ordinalCol` supplies the row ordinal
    * for the provenance stamp `file:line` (shard.rs:455-471). */
  def mix(docsWithAttrs: DataFrame, cfg: MixerConfig,
      sourceFileCol: Column = input_file_name(),
      ordinalCol: Column = monotonically_increasing_id()): DataFrame = {
    // The defaults only stamp meaningful provenance when `docsWithAttrs`
    // is a direct scan: after any join/shuffle (mergeAttributes!)
    // input_file_name() is empty and the monotonic id is assigned
    // post-filter. Pipelines must capture both AT SCAN TIME and pass the
    // captured columns (as Main does with __file/__ord).
    var out = docsWithAttrs.filter(keepPredicate(cfg))
    if (cfg.spanReplacements.nonEmpty) {
      out = out.withColumn("content",
        SpanScrubber.scrubSpans(col("content"), replacementSpans(cfg)))
    }
    if (cfg.discardFields.nonEmpty) out = out.drop(cfg.discardFields: _*)
    if (cfg.minTextLength > 0) {
      // reference quirk: length of the trimmed text in BYTES (Rust
      // `str::len`, shard.rs:451-454) — octet_length, not char length.
      // Rust str::trim strips ALL Unicode White_Space; Spark's trim()
      // strips only ASCII space, which diverges for the near-universal
      // trailing newline, so trim with the Unicode property class.
      val rustTrimmed = regexp_replace(col("content"),
        "^[\\p{IsWhite_Space}]+|[\\p{IsWhite_Space}]+$", "")
      out = out.filter(octet_length(rustTrimmed) >= cfg.minTextLength)
    }
    out.withColumn("provenance", concat_ws(":", sourceFileCol, ordinalCol))
  }
}
