package graft

import graft.config.{AttrTable, Format, PipelineConfig}
import graft.dedup.{DistributedBloom, ReferenceDedup}
import graft.mixer.{Jq, Mixer, PredicateCompiler}
import graft.operators.TagRunner
import graft.runtime.{Checkpoint, Metrics}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** spark-submit entrypoint: runs the tag → dedupe → mix pipeline from a
  * JSON config.
  *
  * {{{
  * spark-submit --class graft.Main dolmaspark.jar -c pipeline.json
  * }}}
  *
  * The config's keys, defaults and meanings are documented once, on
  * [[graft.config.PipelineConfig]]; it is parsed before any Spark job, and
  * an unknown key at any depth is rejected with the valid keys listed:
  * {{{
  * {"input":  {"format": "parquet", "path": "...", "id": "id", "text": "content"},
  *  "taggers": ["gopher_v2", "pii_regex_with_counts_fast_v2"],
  *  "dedupe": {"mode": "documents"},
  *  "filter": {"exclude": ["$.attributes.exp__gopher_v2__word_count[0][2] < 50"]},
  *  "span_replacement": [{"span": "exp__pii_regex_with_counts_fast_v2__EMAIL_ADDRESS",
  *                        "min_score": 0.5, "replacement": "[EMAIL]"}],
  *  "output": {"path": "...", "format": "parquet"}}
  * }}}
  *
  * A top-level `{"streams": [cfg, cfg, ...]}` runs each stream config in
  * sequence (the reference mixer's multi-stream YAML,
  * src/shard.rs:533-546); every stream's config is parsed before the first
  * one runs.
  *
  * Resume semantics: with a `ledger`, completed input files are skipped
  * and their output is left untouched; a resumed run appends only the
  * pending files' output (exactly-once at file grain). Note the exact
  * first-occurrence dedup window sees only the files of ONE run — for
  * cross-run dedup state use the sharded Bloom path
  * ([[graft.dedup.DistributedBloom]]), which persists like the
  * reference's Bloom file does.
  *
  * `"format": "table"` reads a CATALOGED table (`spark.read.table`) —
  * the zero-code-change seam for an Iceberg/Delta/Hive deployment: point
  * `path` at the catalog table name and the catalog's own snapshot
  * isolation governs what a run sees. The file-grain `ledger` does NOT
  * compose with table input (a snapshot's membership is the catalog's
  * concern, not a file listing; re-running over a new snapshot would
  * alias old ledger keys) — configs combining the two are rejected.
  * Engine-side resume for tables belongs to the catalog: read a pinned
  * snapshot, write, then advance the pin.
  *
  * Evaluation: without `attributes_output` a run evaluates its pipeline
  * ONCE, in the output write. The tagger battery runs in place
  * (`TagRunner.withAttributes`, no attribute join), and an in-flight
  * analyze rides that write as a `Dataset.observe` aggregate whose
  * per-task trackers merge on the driver — nothing is pinned with
  * `localCheckpoint`, and summaries and report are emitted after the
  * write. Metrics, lineage and the tokens stage read back the written
  * files. `attributes_output` adds one write of the attribute table,
  * which the mix then joins back.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val configPath = args.sliding(2).collectFirst { case Array("-c", p) => p }
      .getOrElse(sys.error("usage: graft.Main -c <config.json>"))
    val configs = PipelineConfig.parseAll(new ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(configPath))))

    val spark = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try configs.foreach(run(spark, _))
    finally spark.stop()
  }

  /** Parse `cfg` ([[PipelineConfig.parse]]: a misspelt key fails here,
    * before any Spark job) and run it. */
  def run(spark: SparkSession, cfg: JsonNode): Unit = run(spark, PipelineConfig.parse(cfg))

  /** Run one parsed pipeline config. */
  def run(spark: SparkSession, c: PipelineConfig): Unit = {
    val in = c.input
    val isWarc = in.format == Format.Warc
    val raw0 = read(spark, in.format, Seq(in.path))

    // file-grain resume (same unit as the reference's skip-if-exists
    // done-markers, core/parallel.py:229-231): diff the driver-side file
    // listing against the ledger and re-read only the pending files. The
    // ledger stays O(input files) — never O(documents) — and a resumed
    // run does zero I/O on completed shards.
    val ledger = c.ledger.map(Checkpoint(spark, _))
    val allFiles =
      if (in.format == Format.Table) Seq.empty[String]
      // the WARC frame is RDD-backed (binaryFiles) — list the archive
      // names without reading them (PortableDataStream keys are lazy)
      else if (isWarc) spark.sparkContext.binaryFiles(in.path).map(_._1).collect().toSeq.sorted
      else raw0.inputFiles.toSeq.sorted
    val doneKeys = ledger.map(_.completedKeySet()).getOrElse(Set.empty[String])
    val pendingFiles = allFiles.filterNot(doneKeys)
    // Fully resumed run: every input file is already committed in the
    // ledger. Leave the completed output UNTOUCHED (the reference's
    // skip-if-exists semantics, src/mixer.rs:21-25) — re-running the
    // pipeline here would overwrite prior output with an empty write.
    if (ledger.isDefined && pendingFiles.isEmpty) return
    // Partial resume: completed files' output already exists on disk, so
    // this run's writes must ADD files without touching prior output. A
    // naive Append would break exactly-once: a crash after the append but
    // before the ledger commit leaves unrecorded output files, and the
    // retry appends them again (the reference mixer avoids this with
    // per-file temp+rename, src/mixer.rs). Instead, a resumed run writes
    // to a hidden staging dir inside the output path and PROMOTES the
    // files under a deterministic run-id prefix (delete-prefix, then
    // rename): the run id is a hash of the pending-file set, which is
    // stable until the ledger commit, so a crashed attempt's files are
    // swept and replaced by the retry — exactly-once at file grain even
    // across crash/retry cycles.
    val resuming = doneKeys.nonEmpty
    val runId = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(pendingFiles.mkString("\n").getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
    }
    // Committed promote run-ids: used to sweep crashed-attempt leftovers.
    // The run-id hashes the PENDING set, so if a crash lands between
    // promote and ledger-commit and the input listing then changes, the
    // retry's run-id differs and the delete-prefix in promoteStaging
    // would never sweep the orphan — its docs would appear twice. Each
    // committed resume records "__run:<id>" in the ledger; any part-r<id>
    // file whose id is neither committed nor current is a crashed
    // attempt's and is swept before writing.
    val committedRuns: Set[String] = doneKeys.collect {
      case k if k.startsWith("__run:") => k.stripPrefix("__run:")
    }
    // Write helper: direct write when not resuming (Overwrite retries are
    // naturally idempotent); staging + promote when resuming.
    def writeCommitted(write: (String, SaveMode) => Unit, dest: String): Unit =
      if (!resuming) write(dest, SaveMode.Overwrite)
      else {
        sweepOrphanRuns(spark, dest, committedRuns + runId)
        val staging = s"$dest/.staging-$runId"
        write(staging, SaveMode.Overwrite)
        promoteStaging(spark, staging, dest, runId)
      }
    val raw =
      if (pendingFiles.size == allFiles.size) raw0
      else read(spark, in.format, pendingFiles, Some(raw0.schema))

    // "warc" input runs the reference's `dolma warc` extraction
    // (warc/processor.py) INSIDE the pipeline: records → linearized dolma
    // documents, with the warc-specific pre/post taggers from the input
    // config; the extracted attributes ride along as a column (no extra
    // join) and merge with the pipeline's own tagger output below.
    // Custom tagger modules are imported on the driver for fail-fast name
    // resolution AND threaded into every tagging task so executor JVMs
    // import them before resolving.
    graft.taggers.TaggerRegistry.importModules(c.taggerModules)
    val docs =
      if (isWarc) {
        graft.sources.Warc.extractDocuments(raw, in.sourceName, in.preTaggers,
          in.postTaggers, in.skipNoPreTaggers, in.skipNoPostTaggers,
          storeHtml = in.storeHtmlInMetadata, keepWarcFile = true,
          taggerModules = c.taggerModules)
          .withColumnRenamed("text", "content")
          .withColumnRenamed("attributes", "__warc_attrs")
          .withColumnRenamed("__warc_file", "__file")
          .withColumn("__ord", monotonically_increasing_id())
      } else {
        // bind a configured field to its canonical name. A nested dot-path
        // ("metadata.text") is extracted via Spark's native struct-field
        // resolution — withColumnRenamed would silently no-op on it; a
        // plain top-level name is renamed as before.
        def bind(df: DataFrame, src: String, dst: String): DataFrame =
          if (src == dst) df
          else if (src.contains('.')) df.withColumn(dst, col(src))
          else df.withColumnRenamed(src, dst)
        bind(bind(raw, in.id, "id"), in.text, "content")
        // ids are strings in the dolma document model; coerce numeric ids
        .withColumn("id", col("id").cast("string"))
        // capture provenance columns at scan time — after joins the scan
        // is no longer the unique source for input_file_name()
        .withColumn("__file", input_file_name())
        .withColumn("__ord", monotonically_increasing_id())
      }

    // tag (fused battery). Without an attribute sink the battery runs IN
    // PLACE: its map is one more column of the scan's narrow pass, so no
    // id-join shuffles the doc rows and the output write stays the
    // pipeline's only evaluation. "attributes_output" keeps the
    // write-then-merge path — the only way to produce that table: the
    // table is written ONCE and merged back from the written files, so the
    // battery still never evaluates twice.
    val attributesOut = c.attributesOutput.filter(_ => c.taggers.nonEmpty)
    val tagged =
      if (c.taggers.isEmpty || attributesOut.isDefined) docs
      else TagRunner.withAttributes(docs, c.taggers, c.experiment,
        outputCol = "__tag_attrs", taggerModules = c.taggerModules)
    val attrsWritten = attributesOut.map { p =>
      writeCommitted((path, mode) =>
        TagRunner.tag(docs, c.taggers, c.experiment, taggerModules = c.taggerModules)
          .write.mode(mode).parquet(path), p)
      // merge only THIS run's attribute rows (the pending files' docs); on
      // resume the attrs table also holds prior runs' rows
      val all = read(spark, Format.Parquet, Seq(p))
      if (resuming) all.join(docs.select(col("id")), Seq("id"), "left_semi")
      else all
    }

    // pre-existing attribute tables — the reference's SPLIT workflow
    // (`dolma tag` writes attribute files, a later `dolma mix` run joins
    // them back by id, src/shard.rs:288-365). jsonl reads the dolma
    // triple format; parquet reads this engine's attributes_output.
    // Merge order mirrors the reference (later files win on duplicate
    // keys, shard.rs:322): loaded tables first, then this run's taggers.
    def readAttrs(t: AttrTable): DataFrame = read(spark, t.format, Seq(t.path), attributes = true)
    val attrsLoaded = c.attributesInput.map(readAttrs)

    // dedupe: "documents" (exact first-occurrence flag), or the dolma
    // attribute-emitting modes "paragraphs" / "ngrams" whose duplicate
    // spans flow into the mixer like any other attribute (drop them with
    // a span_replacement rule — the reference's dedupe->mix pipeline)
    val dedupe = c.dedupe.filter(_.enabled)
    val docDedup = dedupe.exists(_.mode == "documents")
    val dedupAttr: Option[DataFrame] =
      dedupe.filter(d => d.mode == "paragraphs" || d.mode == "ngrams").map { d =>
        // these modes mark LATER occurrences (first copy stays intact),
        // so on WARC inputs — where byte-identical captures share a
        // digest id — the spans must be keyed per document INSTANCE
        // (__ord), not per id: an id-keyed merge would attach copy 2's
        // dup spans to copy 1 as well and scrub the content out of the
        // corpus entirely. The warc-keyed frame joins back on __ord below
        // instead of flowing through the id-keyed mergeAttributes.
        val dedupKey = if (isWarc) col("__ord").cast("string") else col("id")
        // null text (nullable in dolma jsonl) dedups like the empty string
        val safeText = coalesce(col("content"), lit(""))
        val spansDf =
          if (d.mode == "paragraphs")
            ReferenceDedup.paragraphDupSpans(docs, dedupKey, safeText, col("__ord"))
          else ReferenceDedup.ngramDupSpans(docs, dedupKey, safeText, col("__ord"),
            d.ngram.length, d.ngram.stride, d.ngram.threshold)
        // an in-flight analyze rides the output write (see below), so
        // these spans are computed once, inside that write
        spansDf.select(col("id"), map(lit(d.attributeName), col("spans")).as("attributes"))
      }

    // cross-run Bloom dedup state — the reference deduper's Bloom-filter
    // file (cli/deduper.py bloom_filter block; src/bloom_filter.rs):
    // probe marks MEMBERSHIP against state persisted by earlier runs, and
    // unless read_only this run's keys merge into a new state version.
    // Batch semantics: every copy of a key already in state is marked
    // (decontamination); within-run first-occurrence labeling is the
    // window-based "mode": "documents". Probe + state update add up to
    // two extra passes over the docs — run Bloom dedupe as its own config
    // (the reference's `dolma dedupe` is its own CLI step for the same
    // reason).
    val (bloomAttr: Option[DataFrame], bloomCommit: Option[() => Unit]) =
      dedupe.flatMap(_.bloomFilter).map { b =>
      import spark.implicits._
      val existing = DistributedBloom.loadState(spark, b.path)
      val stShards = existing.map(_._2).getOrElse(b.shards)
      def probeHits(keys: Dataset[(String, String)]) =
        existing match {
          case Some((st, _)) =>
            DistributedBloom.probeSharded(keys, st, stShards)
              .toDF("id", "__hit").filter(col("__hit")).select(col("id"))
          case None => spark.emptyDataset[String].toDF("id")
        }
      // The state update is DEFERRED to after the output commit (run()
      // executes the returned thunk): saving eagerly would poison the
      // state if the run later failed — a retry would then see its own
      // keys as duplicates and silently drop the whole batch.
      def deferredUpdate(keys: () => Dataset[String]): Option[() => Unit] =
        if (b.readOnly) None
        else Some { () =>
          val fresh = DistributedBloom.buildSharded(
            keys(), b.estimatedDocCount, b.desiredFalsePositiveRate, stShards)
          val merged = existing match {
            case Some((st, _)) => DistributedBloom.mergeStates(st, fresh)
            case None => fresh
          }
          DistributedBloom.saveState(merged, b.path, stShards)
          ()
        }
      // "bloom_paragraphs" works at PARAGRAPH grain (the reference
      // deduper's primary production mode: paragraphs probed against the
      // BFF across the whole corpus) — hits become exact paragraph spans,
      // ready for span_replacement scrubbing. "bloom" / "documents" work
      // at doc grain on the configured key.
      if (dedupe.exists(_.mode == "bloom_paragraphs")) {
        // one paragraph walk feeds BOTH the probe and the state update:
        // checkpoint keys+offsets (16-byte hashes, no text) so the doc
        // pipeline upstream evaluates once
        // Bloom membership is a pure function of content, so duplicate
        // doc ids (warc digests) keep ONE row per (id, idx) — dedup
        // before the probe join or k copies would pack k² identical
        // triples into the span arrays
        val paras0 = ReferenceDedup.paragraphKeyRows(
          docs, col("id"), coalesce(col("content"), lit("")))
        val paras = (if (b.skipEmpty) paras0.filter(!col("is_empty")) else paras0)
          .withColumn("__pid", concat_ws("\u0000", col("id"), col("idx")))
          .dropDuplicates("__pid")
          .localCheckpoint()
        val hitPids = probeHits(
          paras.select(col("__pid"), col("key")).as[(String, String)])
          .withColumnRenamed("id", "__pid")
        // aggregate the HIT rows directly — rolling up over all docs
        // would re-evaluate the whole doc pipeline for a join whose
        // non-hit rows are filtered right back out
        val attr = paras.join(hitPids, Seq("__pid"))
          .groupBy(col("id"))
          .agg(array_sort(collect_list(
            struct(col("idx"), col("start"), col("end"), lit(1.0).as("score"))))
            .as("__sorted"))
          .select(col("id"), map(lit(b.attributeName),
            transform(col("__sorted"), s => struct(
              s.getField("start").as("start"), s.getField("end").as("end"),
              s.getField("score").as("score")))).as("attributes"))
        (Some(attr), deferredUpdate(() => paras.select(col("key")).as[String]))
      } else {
        val keyCol = if (b.key == "id") col("id") else sha2(col("content"), 256)
        val keys = docs.select(col("id").cast("string"), keyCol.cast("string"))
          .as[(String, String)]
        val hits = probeHits(keys)
        val attr = hits.join(docs.select(col("id"),
            length(col("content")).cast("long").as("__len")), Seq("id"))
          .select(col("id"), map(lit(b.attributeName),
            array(struct(lit(0L).as("start"), col("__len").as("end"),
              lit(1.0).as("score")))).as("attributes"))
        (Some(attr), deferredUpdate(() => keys.map(_._2)))
      }
    }.getOrElse((None, None))

    // WARC doc ids are payload digests (reference record_info.py:28), so
    // byte-identical captures share an id — expected on real CommonCrawl
    // (boilerplate/error pages). An id-keyed attribute join would fan
    // those out (N docs × N attr rows). For attribute tables whose rows
    // are a pure function of the payload (taggers, doc-grain bloom
    // membership), identical payloads produce identical rows, so
    // collapsing to one row per id is lossless and restores the
    // 1-row-per-doc join shape (the groupBy shuffles on the same key as
    // the merge join — Catalyst reuses the exchange). The dedupAttr spans
    // are NOT payload-pure (they mark later occurrences) — in warc mode
    // they are keyed by __ord and joined separately below.
    def onePerId(t: DataFrame): DataFrame =
      if (isWarc) t.groupBy(col("id"))
        .agg(first(col("attributes")).as("attributes"))
      else t
    // fold an in-row attribute map column `c` into "attributes" (later
    // maps win on duplicate keys, like mergeAttributes): `c` wins when
    // `cWins`, else the maps already merged win over it
    def foldAttrs(df: DataFrame, c: String, cWins: Boolean): DataFrame =
      if (!df.columns.contains("attributes")) df.withColumnRenamed(c, "attributes")
      else df.withColumn("attributes",
        if (cWins) Mixer.map_concat_dedup(col("attributes"), col(c))
        else Mixer.map_concat_dedup(col(c), col("attributes"))).drop(c)
    // merge order (later wins): loaded tables, this run's taggers (in
    // place, or the written table), then the dedup / Bloom spans
    val mergedDedupAttr = if (isWarc) None else dedupAttr
    var withAttrs = Mixer.mergeAttributes(tagged,
      (attrsLoaded ++ attrsWritten).map(onePerId))
    if (tagged ne docs) withAttrs = foldAttrs(withAttrs, "__tag_attrs", cWins = true)
    withAttrs = Mixer.mergeAttributes(withAttrs,
      (mergedDedupAttr ++ bloomAttr).toSeq.map(onePerId))
    if (isWarc) dedupAttr.foreach { a =>
      // per-instance dedup spans: 1:1 join on the unique __ord key
      val byOrd = a.select(col("id").cast("long").as("__ord"),
        col("attributes").as("__dedup_attrs"))
      // collectSpans covers every doc (empty lists for no hits), so the
      // 1:1 join always matches and __dedup_attrs is never null
      withAttrs = foldAttrs(withAttrs.join(byOrd, Seq("__ord"), "left"),
        "__dedup_attrs", cWins = false)
    }
    // fold the WARC extraction's own attributes in (they were computed in
    // the same scan; the pipeline's own maps win on duplicate keys)
    if (isWarc) withAttrs = foldAttrs(withAttrs, "__warc_attrs", cWins = false)
    if (docDedup) {
      // null text keys like the empty string: sha2(null) is null, and a
      // null window key would silently group every null-content doc into
      // one duplicate cluster
      withAttrs = graft.dedup.Dedup.markDuplicates(
        withAttrs, sha2(coalesce(col("content"), lit("")), 256), col("__ord"))
    }

    // analyze stage — the `dolma analyze` CLI (cli/analyzer.py +
    // core/analyzer.py:96-188): per attribute name, the distribution of
    // span SCORES and span LENGTHS, as equal-count summaries
    // (Binning.attributeSummaries: one aggregate, whatever the source).
    // Sources: explicit "attributes" tables (any earlier run), read with a
    // plain `.agg`, or this run's merged attribute column. The in-flight
    // source RIDES THE OUTPUT WRITE as a CollectMetrics node
    // (Dataset.observe): per-task tracker maps merge on the driver, so the
    // pipeline evaluates once and nothing is pinned. Summaries and report
    // are emitted after the write.
    val analyze = c.analyze.filter(_.enabled)
    val analyzeSummaries = analyze.map { a =>
      val summaries = graft.functions.Binning.attributeSummaries(col("attributes"),
        nOut = a.bins, regex = a.regex).as("summaries")
      if (a.attributes.nonEmpty) () =>
        a.attributes.map(t => readAttrs(t).select(col("attributes")))
          .reduce(_ unionAll _).agg(summaries).head().getSeq[Row](0)
      else {
        require(withAttrs.columns.contains("attributes"),
          "analyze: no \"attributes\" tables given and this run has no " +
            "taggers/dedupe/attributes_input to analyze")
        val obs = new Observation()
        withAttrs = withAttrs.observe(obs, summaries)
        () => obs.get("summaries").asInstanceOf[Seq[Row]]
      }
    }

    // mix. Predicates: the compiled-Column grammar is the hot path;
    // `"syntax": "jq"` (or a jq-looking string the grammar rejects) routes
    // through the generic graft.mixer.Jq interpreter fallback
    // (reference: src/filters.rs:250-385 + SpanReplacementConfig.syntax).
    def preds(rules: Seq[String], exclude: Boolean): Seq[Column] = rules.map { s =>
      // expose the REST of the document shape (source, metadata, created,
      // added — whichever the input schema actually has) so fallback jq
      // predicates like `.source == "cc"` evaluate against real values
      def jqExtra: Seq[(String, Column)] = {
        val present = withAttrs.columns.toSet
        Seq("source", "metadata", "created", "added")
          .filter(present.contains).map(c => c -> col(c))
      }
      def jqCol() = (if (exclude) Jq.excludeColumn _ else Jq.includeColumn _)(
        s, col("attributes"), col("id"), col("content"), jqExtra)
      if (s == "is_duplicate") col("is_duplicate")
      else if (c.filter.syntax == "jq") jqCol()
      else try PredicateCompiler.compile(s)
      catch { case e: Exception if s.startsWith(".") => jqCol() }
    }
    // span selectors: jsonpath "$.attributes.NAME" or (syntax: jq) the
    // optional-path form ".attributes?.NAME?" — both resolve to the flat
    // attribute key of this engine's attribute maps. output.discard_fields
    // (reference cli/mixer.py:179-182 / shard.rs:446-448) are dropped from
    // the output document, on top of the engine's own is_duplicate flag.
    val out = c.output
    val mixCfg = Mixer.MixerConfig(
      include = preds(c.filter.include, exclude = false),
      exclude = preds(c.filter.exclude, exclude = true) ++
        (if (docDedup) Seq(col("is_duplicate")) else Nil),
      spanReplacements = c.spanReplacement.map(r => Mixer.SpanReplacementRule(
        r.attribute, r.minScore, r.maxScore, r.replacement)),
      discardFields = "is_duplicate" +: out.discardFields,
      minTextLength = c.minTextLength)

    // decision metrics ride the output write as a CollectMetrics node
    // (Dataset.observe): zero extra evaluations of the pipeline
    val rules = if (docDedup) Seq("dropped_duplicate" -> col("is_duplicate")) else Nil
    val rulesObs = new Observation()
    if (c.metricsOutput.isDefined) {
      val aggs = Metrics.ruleMetricExprs(rules)
      withAttrs = withAttrs.observe(rulesObs, aggs.head, aggs.tail: _*)
    }
    val rowsObs = new Observation()
    val mixed = Mixer.mix(withAttrs, mixCfg,
        element_at(split(col("__file"), "/"), -1), col("__ord"))
      .drop("attributes", "__ord", "__file")
      .observe(rowsObs, count(lit(1)).as("rows_written"))

    // the single evaluation of the pipeline: the output write.
    // "compression" maps to the write codec (the reference's
    // output.compression); "max_records_per_file" is the Spark-native
    // shard-size control — the reference's byte budget
    // (output.max_size_in_bytes, shard.rs:40-130) divided by the expected
    // document size
    def sized(w: org.apache.spark.sql.DataFrameWriter[Row]) = {
      val w1 = out.maxRecordsPerFile.map(n => w.option("maxRecordsPerFile", n)).getOrElse(w)
      out.compression.map(c => w1.option("compression", c)).getOrElse(w1)
    }
    out.format match {
      case Format.Jsonl =>
        // dolma document format names the text field "text"
        // (docs/data-format.md); the pipeline's internal name is
        // "content", so the jsonl egress renames — the reference's own
        // consumers (and this engine's readDocuments) expect "text"
        writeCommitted((path, mode) =>
          graft.sources.Jsonl.writeDocuments(
            mixed.withColumnRenamed("content", "text"), path,
            codec = out.compression.getOrElse("gzip"), mode = mode,
            maxRecordsPerFile = out.maxRecordsPerFile.getOrElse(0L)), out.path)
      case Format.Table =>
        // catalog output (the seam matching "format": "table" input): the
        // catalog's atomic commit replaces the staging/promote dance, and
        // file-grain resume doesn't compose with snapshot tables — same
        // rule as on the input side.
        require(!resuming,
          "table output does not compose with file-grain ledger resume: " +
            "the catalog's snapshot commit owns atomicity (see Main scaladoc)")
        sized(mixed.write.mode(SaveMode.Overwrite)).saveAsTable(out.path)
      case _ =>
        writeCommitted((path, mode) =>
          sized(mixed.write.mode(mode)).parquet(path), out.path)
    }
    def observed(obs: Observation, name: String): Long =
      obs.get.get(name).collect { case n: Number => n.longValue() }.getOrElse(0L)
    val rowsWritten = observed(rowsObs, "rows_written")
    // the written documents, read back by the metrics and tokens stages.
    // The jsonl egress wrote dolma format ("text"); the pipeline
    // normalizes column names at ingest, so the read-back restores "id" /
    // "content"
    def written: DataFrame = {
      val w = read(spark, out.format, Seq(out.path))
      if (out.format == Format.Jsonl) w.withColumnRenamed("text", "content") else w
    }

    // analyze: the summary rows (#attributes × 2 of them) reach the driver
    // once — from the write's observation, or from the tables' `.agg`
    for (a <- analyze; summaryRows <- analyzeSummaries) {
      val rows = summaryRows()
      a.summariesOutput.foreach { p =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          org.apache.spark.sql.Encoders.product[graft.functions.Binning.NamedSummary].schema)
          .write.mode("overwrite").parquet(p)
      }
      val report = graft.tools.AnalyzerReport.render(
        rows.map(r => r.getString(0) -> graft.functions.Binning.Summary(
          r.getSeq[Double](1).toVector, r.getSeq[Long](2).toVector,
          r.getLong(3), r.getDouble(4))).toMap,
        numVizBins = a.vizBins, showTotal = a.total)
      a.report match {
        case Some(p) =>
          val hp = new Path(p)
          val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val out = fs.create(hp, true)
          try out.write((report.mkString("\n") + "\n").getBytes("UTF-8"))
          finally out.close()
        case None => report.foreach(println)
      }
    }

    // metrics: rules from the observation (a driver-side row), lineage
    // from a column-pruned scan of the files just written — neither
    // re-runs the pipeline
    c.metricsOutput.foreach { p =>
      val ruleNames = "total" +: rules.map(_._1)
      spark.createDataFrame(java.util.List.of(Row.fromSeq(ruleNames.map(observed(rulesObs, _)))),
        StructType(ruleNames.map(StructField(_, LongType))))
        .write.mode("overwrite").parquet(p + "/rules")
      Metrics.fileLineage(written, col("id"))
        .write.mode("overwrite").parquet(p + "/lineage")
    }

    // tokens stage (the `dolma tokens` CLI surface, reference
    // tokenizer/executor.py + cli): tokenize the MIXED output into binary
    // memmap shards + a metadata table. Reads back the files the output
    // write just committed (same pattern as the metrics block) so the
    // pipeline still evaluates exactly once.
    c.tokens.filter(_.enabled).foreach { t =>
      val dest = t.destination
      val toks = t.tokenizer.flatMap(tk => tk.path.map(tk -> _)) match {
        case Some((tk, vocabPath)) =>
          graft.sources.TokenSink.hfTokenIds(col("content"), vocabPath,
            eosId = tk.eosTokenId, bosId = tk.bosTokenId,
            segment = tk.segmentBeforeTokenization)
        case None => graft.sources.TokenSink.tokenIds(col("content"), vocabSize = t.vocabSize)
      }
      // writeShards returns a LAZY side-effecting frame — checkpoint it
      // so the downstream metadata write / reshard / export never
      // re-run the shard-writing tasks
      val meta = graft.sources.TokenSink.writeShards(written.withColumn("__toks", toks),
        col("id"), col("__toks"), dest + "/shards", t.bytesPerToken, t.numShards,
        t.targetTokensPerShard).localCheckpoint()
      val (finalMeta, shardDir) =
        if (t.minShardSizeBytes > 0)
          (graft.sources.TokenSink.reshard(spark, dest + "/shards", meta,
            dest + "/resharded", t.minShardSizeBytes, t.bytesPerToken).localCheckpoint(),
            dest + "/resharded")
        else (meta, dest + "/shards")
      finalMeta.write.mode("overwrite").parquet(dest + "/metadata")
      // optional dolma on-disk layout (.npy + .csv.gz sidecars) readable
      // by the reference's own downstream consumers
      if (t.dolmaLayout)
        graft.sources.TokenSink.exportDolmaLayout(shardDir, finalMeta, dest + "/dolma")
    }

    // ledger commit: the pending input files, at file grain (idempotent
    // append; rows_written records this run's total). A resumed run also
    // records its promote run-id so a later resume can sweep any
    // promoted-but-uncommitted files from crashed attempts (see the
    // writeCommitted block).
    ledger.foreach { l =>
      import spark.implicits._
      val keys = if (resuming) pendingFiles :+ s"__run:$runId" else pendingFiles
      l.commit(keys.toDF("key"), "key", rowsWritten)
    }
    // the Bloom state version commits LAST, after every stage that can
    // fail (output, metrics, tokens, ledger): committing it any earlier
    // would poison the state on a later-stage failure — the retry would
    // probe its own keys as members and silently drop the whole batch
    bloomCommit.foreach(_())
  }

  /** The one format dispatch: input documents, attribute tables and the
    * read-backs of the written output. `schema` pins a parquet re-read of
    * a subset of the input files to the first read's schema. */
  private def read(spark: SparkSession, format: Format, paths: Seq[String],
      schema: Option[StructType] = None, attributes: Boolean = false): DataFrame =
    format match {
      case Format.Jsonl if attributes => graft.sources.Jsonl.readAttributes(spark, paths: _*)
      case Format.Jsonl => graft.sources.Jsonl.readDocuments(spark, paths: _*)
      case Format.Table => spark.read.table(paths.head)
      case Format.Warc => graft.sources.Warc.readRecords(spark, paths.mkString(","))
      case Format.Parquet => schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)
    }

  /** Delete promoted `part-r<id>-*` files whose run-id is not in `keep`
    * (the committed run-ids plus the current one) — leftovers of attempts
    * that crashed between promote and ledger-commit. */
  private def sweepOrphanRuns(spark: SparkSession, dest: String,
      keep: Set[String]): Unit = {
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(destPath)) return
    val Pat = "part-r([0-9a-f]+)-.*".r
    fs.listStatus(destPath).foreach { st =>
      st.getPath.getName match {
        case Pat(id) if !keep(id) => fs.delete(st.getPath, false)
        case _ =>
      }
    }
  }

  /** Promote a resumed run's staged output files into `dest` under the
    * deterministic `part-r<runId>-` prefix. Any files from a crashed
    * earlier attempt of the SAME run id are deleted first, so the promote
    * is idempotent regardless of how far the previous attempt got; the
    * staging dir name starts with '.' so Hadoop input listings never see
    * in-flight files. Rename is same-filesystem (staging lives inside
    * dest), i.e. a metadata move, not a copy — on HDFS/local it is atomic
    * per file. */
  private def promoteStaging(spark: SparkSession, staging: String,
      dest: String, runId: String): Unit = {
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"part-r$runId-"
    if (!fs.exists(destPath)) fs.mkdirs(destPath)
    fs.listStatus(destPath).filter(_.getPath.getName.startsWith(prefix))
      .foreach(st => fs.delete(st.getPath, false))
    val stagingPath = new Path(staging)
    fs.listStatus(stagingPath)
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .foreach { st =>
        require(fs.rename(st.getPath,
          new Path(destPath, prefix + st.getPath.getName)),
          s"promote rename failed for ${st.getPath}")
      }
    fs.delete(stagingPath, true)
  }
}
