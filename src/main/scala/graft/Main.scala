package graft

import graft.mixer.{Mixer, PredicateCompiler}
import graft.operators.TagRunner
import graft.runtime.{Checkpoint, Metrics}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** spark-submit entrypoint: runs the tag → dedupe → mix pipeline from a
  * JSON config (shape mirrors the reference's mixer/tagger configs —
  * /root/reference/src/shard.rs:533-546 StreamConfig — adapted to tables).
  *
  * {{{
  * spark-submit --class graft.Main dolmaspark.jar -c pipeline.json
  * }}}
  *
  * Config:
  * {{{
  * {
  *   "input":   {"format": "parquet|jsonl|table|warc", "path": "...", "id": "id", "text": "content"},
  *   // "id"/"text" accept nested dot-paths ("metadata.text"), matching
  *   // the reference's nested field retrievers (tokenizer/tokenizer.py
  *   // make_retriever_for_field, tests/python/test_nested_struct.py).
  *   // A dot-path is EXTRACTED (the parent struct stays on the doc);
  *   // a plain name is renamed.
  *   // "warc" runs the reference's `dolma warc` extraction in-pipeline
  *   // (warc/processor.py): records -> linearized dolma documents.
  *   // Extra input fields: "source_name", "pre_taggers" (on raw html),
  *   // "post_taggers" (on linearized text), "skip_no_pre_taggers",
  *   // "skip_no_post_taggers", "store_html_in_metadata".
  *   "taggers": ["gopher_v2", "pii_regex_with_counts_fast_v2"],
  *   "tagger_modules": ["com.example.MyTaggers"],  // optional: custom
  *               // tagger classes/objects on the --jars classpath
  *               // (reference `taggers_modules` / import_modules)
  *   "experiment": "exp",
  *   "dedupe":  {"enabled": true,
  *               "mode": "documents|paragraphs|ngrams|bloom|bloom_paragraphs",
  *               "attribute_name": "duplicate_paragraphs",
  *               "ngram": {"length": 8, "stride": 0, "threshold": 0.7},
  *               "bloom_filter": {           // optional: cross-run state
  *                 // (the reference deduper's Bloom file) — marks docs
  *                 // whose key is already in PERSISTED state and, unless
  *                 // read_only, merges this run's keys into a new state
  *                 // version under "path". mode "bloom" = Bloom only.
  *                 // mode "bloom_paragraphs" = PARAGRAPH grain: hits
  *                 // become exact paragraph spans for scrubbing.
  *                 "path": "...", "read_only": false, "shards": 64,
  *                 "estimated_doc_count": 1000000,
  *                 "desired_false_positive_rate": 1e-4,
  *                 "key": "content_sha|id",   // doc grain only
  *                 "skip_empty": false,       // paragraph grain only
  *                 "attribute_name": "bff_duplicate"}},
  *   "filter":  {"include": [], "exclude": ["$.attributes.exp__...[0][2] > 0.5"]},
  *   "span_replacement": [{"span": "exp__...__EMAIL_ADDRESS", "min_score": 0.5,
  *                         "replacement": "[EMAIL]"}],
  *   "min_text_length": 1,
  *   "output":  {"path": "...", "format": "parquet|jsonl|table",
  *               "compression": "gzip",        // write codec
  *               "max_records_per_file": 0,    // shard sizing (the
  *               // reference's max_size_in_bytes ÷ expected doc size)
  *               "discard_fields": ["field"]}, // dropped from output docs
  *   "tokens":  {"enabled": true, "destination": "...",   // optional: the
  *               // `dolma tokens` stage over the mixed output — binary
  *               // shards + metadata table under destination/
  *               "tokenizer": {"path": "tokenizer.json",  // HF format;
  *                             // omitted -> hashed-vocab ids
  *                             "bos_token_id": null, "eos_token_id": 2,
  *                             "segment_before_tokenization": false},
  *               "bytes_per_token": 2, "num_shards": 0,
  *               "target_tokens_per_shard": 536870912,
  *               "min_shard_size_bytes": 0,    // >0 -> reshard pass
  *               "dolma_layout": false},       // .npy + .csv.gz export
  *   "analyze":  {"enabled": true,           // optional: the
  *               // `dolma analyze` stage — per-attribute score/length
  *               // distributions as equal-count summaries + the console
  *               // report (core/analyzer.py)
  *               "attributes": ["path", ...], // default: this run's attrs
  *               "bins": 1000, "viz_bins": 10, "regex": null,
  *               "total": false,
  *               "summaries_output": "...",   // parquet (name,bins,counts,total,sum)
  *               "report": "..."},            // rendered text; omit -> stdout
  *   "attributes_output": "...",   // optional
  *   "attributes_input": ["path", {"path": "...", "format": "jsonl"}],
  *               // optional: merge attribute tables written by EARLIER
  *               // tag runs (the reference's split tag-then-mix
  *               // workflow); later entries win on duplicate keys
  *   "metrics_output": "...",      // optional: lineage + rule metrics
  *   "ledger": "..."               // optional: resume checkpoint
  * }
  * }}}
  *
  * A top-level `{"streams": [cfg, cfg, ...]}` runs each stream config in
  * sequence (the reference mixer's multi-stream YAML,
  * src/shard.rs:533-546).
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
  * which the mix then joins back. Unknown top-level keys are rejected
  * before any Spark job.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val configPath = args.sliding(2).collectFirst { case Array("-c", p) => p }
      .getOrElse(sys.error("usage: graft.Main -c <config.json>"))
    val cfg = new ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(configPath)))

    val spark = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      Option(cfg.get("streams")) match {
        case Some(streams) => streams.elements().asScala.foreach(run(spark, _))
        case None => run(spark, cfg)
      }
    } finally spark.stop()
  }

  /** The top-level keys [[run]] reads (the scaladoc's config shape). */
  val ConfigKeys: Seq[String] = Seq("input", "taggers", "tagger_modules",
    "experiment", "dedupe", "filter", "span_replacement", "min_text_length",
    "output", "tokens", "analyze", "attributes_output", "attributes_input",
    "metrics_output", "ledger")

  def run(spark: SparkSession, cfg: JsonNode): Unit = {
    // a misspelt key ("taggerz") would otherwise silently switch a stage
    // off: reject it before any Spark job
    val unknown = cfg.fieldNames().asScala.filterNot(ConfigKeys.contains).toSeq
    require(unknown.isEmpty,
      s"unknown config key(s) ${unknown.mkString("\"", "\", \"", "\"")}; " +
        s"valid keys: ${ConfigKeys.mkString(", ")}")
    val input = cfg.get("input")
    val idColName = opt(input, "id").getOrElse("id")
    val textColName = opt(input, "text").getOrElse("content")
    val inFormat = opt(input, "format").getOrElse("parquet")
    val isWarc = inFormat == "warc"
    val raw0 = inFormat match {
      case "jsonl" => graft.sources.Jsonl.readDocuments(spark, input.get("path").asText())
      case "table" => spark.read.table(input.get("path").asText())
      case "warc" => graft.sources.Warc.readRecords(spark, input.get("path").asText())
      case _ => spark.read.parquet(input.get("path").asText())
    }

    // file-grain resume (same unit as the reference's skip-if-exists
    // done-markers, core/parallel.py:229-231): diff the driver-side file
    // listing against the ledger and re-read only the pending files. The
    // ledger stays O(input files) — never O(documents) — and a resumed
    // run does zero I/O on completed shards.
    val ledger = Option(cfg.get("ledger")).map(n => Checkpoint(spark, n.asText()))
    require(ledger.isEmpty || inFormat != "table",
      "file-grain ledger resume does not compose with table input: the " +
        "catalog's snapshot isolation owns membership — pin a snapshot " +
        "in the catalog instead (see Main scaladoc)")
    val allFiles =
      if (inFormat == "table") Seq.empty[String]
      // the WARC frame is RDD-backed (binaryFiles) — list the archive
      // names without reading them (PortableDataStream keys are lazy)
      else if (isWarc) spark.sparkContext
        .binaryFiles(input.get("path").asText()).map(_._1).collect().toSeq.sorted
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
    def writeCommitted(write: (String, org.apache.spark.sql.SaveMode) => Unit,
        dest: String): Unit =
      if (!resuming) write(dest, org.apache.spark.sql.SaveMode.Overwrite)
      else {
        sweepOrphanRuns(spark, dest, committedRuns + runId)
        val staging = s"$dest/.staging-$runId"
        write(staging, org.apache.spark.sql.SaveMode.Overwrite)
        promoteStaging(spark, staging, dest, runId)
      }
    val raw =
      if (pendingFiles.size == allFiles.size) raw0
      else if (isWarc)
        graft.sources.Warc.readRecords(spark, pendingFiles.mkString(","))
      else {
        val rd = spark.read.schema(raw0.schema)
        if (inFormat == "jsonl") rd.json(pendingFiles: _*)
        else rd.parquet(pendingFiles: _*)
      }

    // "warc" input runs the reference's `dolma warc` extraction
    // (warc/processor.py) INSIDE the pipeline: records → linearized dolma
    // documents, with the warc-specific pre/post taggers from the input
    // config; the extracted attributes ride along as a column (no extra
    // join) and merge with the pipeline's own tagger output below.
    def strList(n: JsonNode, f: String): Seq[String] =
      Option(n.get(f)).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Seq.empty)
    def flag(n: JsonNode, f: String): Boolean =
      Option(n.get(f)).exists(_.asBoolean(false))
    // "tagger_modules" mirrors the reference's `taggers_modules` config
    // (cli/tagger.py + core/utils.py import_modules): fully-qualified
    // class/object names that register custom taggers — imported on the
    // driver for fail-fast name resolution AND threaded into every
    // tagging task so executor JVMs import them before resolving.
    val taggerModules = Option(cfg.get("tagger_modules"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    graft.taggers.TaggerRegistry.importModules(taggerModules)
    val docs =
      if (isWarc) {
        graft.sources.Warc.extractDocuments(raw,
          opt(input, "source_name").getOrElse("warc"),
          preTaggers = strList(input, "pre_taggers"),
          postTaggers = strList(input, "post_taggers"),
          skipNoPreTaggers = flag(input, "skip_no_pre_taggers"),
          skipNoPostTaggers = flag(input, "skip_no_post_taggers"),
          storeHtml = flag(input, "store_html_in_metadata"),
          keepWarcFile = true,
          taggerModules = taggerModules)
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
        bind(bind(raw, idColName, "id"), textColName, "content")
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
    val taggers = Option(cfg.get("taggers")).map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Seq.empty)
    val experiment = opt(cfg, "experiment").getOrElse("exp")
    val attributesOut = opt(cfg, "attributes_output").filter(_ => taggers.nonEmpty)
    val tagged =
      if (taggers.isEmpty || attributesOut.isDefined) docs
      else TagRunner.withAttributes(docs, taggers, experiment,
        outputCol = "__tag_attrs", taggerModules = taggerModules)
    val attrsWritten = attributesOut.map { p =>
      writeCommitted((path, mode) =>
        TagRunner.tag(docs, taggers, experiment, taggerModules = taggerModules)
          .write.mode(mode).parquet(path), p)
      // merge only THIS run's attribute rows (the pending files' docs); on
      // resume the attrs table also holds prior runs' rows
      val all = spark.read.parquet(p)
      if (resuming) all.join(docs.select(col("id")), Seq("id"), "left_semi")
      else all
    }

    // pre-existing attribute tables — the reference's SPLIT workflow
    // (`dolma tag` writes attribute files, a later `dolma mix` run joins
    // them back by id, src/shard.rs:288-365): each "attributes_input"
    // entry is a path string (format inferred from the extension) or
    // {"path", "format": "parquet|jsonl|table"}. jsonl reads the dolma
    // triple format; parquet reads this engine's attributes_output.
    // Merge order mirrors the reference (later files win on duplicate
    // keys, shard.rs:322): loaded tables first, then this run's taggers.
    // shared by attributes_input and the analyze stage's "attributes"
    def readAttrTable(n: JsonNode): DataFrame = {
      val (path, fmt) =
        if (n.isTextual) {
          val p = n.asText()
          val f = if (p.matches(".*\\.jsonl?(\\.(gz|zst|zstd))?$")) "jsonl"
                  else "parquet"
          (p, f)
        } else (n.get("path").asText(),
          Option(n.get("format")).map(_.asText()).getOrElse("parquet"))
      fmt match {
        case "jsonl" => graft.sources.Jsonl.readAttributes(spark, path)
        case "table" => spark.read.table(path)
        case _ => spark.read.parquet(path)
      }
    }
    val attrsLoaded = Option(cfg.get("attributes_input"))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      .map(readAttrTable)

    // dedupe: "documents" (exact first-occurrence flag), or the dolma
    // attribute-emitting modes "paragraphs" / "ngrams" whose duplicate
    // spans flow into the mixer like any other attribute (drop them with
    // a span_replacement rule — the reference's dedupe->mix pipeline)
    val dedupeNode = Option(cfg.get("dedupe"))
    val dedupEnabled = dedupeNode.exists(d =>
      Option(d.get("enabled")).forall(_.asBoolean(true)))
    val dedupMode = dedupeNode.flatMap(d => Option(d.get("mode")).map(_.asText()))
      .getOrElse("documents")
    val dedupAttrName = dedupeNode.flatMap(d =>
      Option(d.get("attribute_name")).map(_.asText()))
      .getOrElse("duplicate_paragraphs")

    val dedupAttr: Option[DataFrame] =
      if (!dedupEnabled || dedupMode == "documents" ||
        dedupMode.startsWith("bloom")) None
      else {
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
        val spansDf = dedupMode match {
          case "paragraphs" =>
            graft.dedup.ReferenceDedup.paragraphDupSpans(
              docs, dedupKey, safeText, col("__ord"))
          case "ngrams" =>
            val ng = dedupeNode.flatMap(d => Option(d.get("ngram")))
            graft.dedup.ReferenceDedup.ngramDupSpans(
              docs, dedupKey, safeText, col("__ord"),
              ngramLength = ng.flatMap(n => Option(n.get("length")).map(_.asInt())).getOrElse(8),
              stride = ng.flatMap(n => Option(n.get("stride")).map(_.asInt())).getOrElse(0),
              overlapThreshold = ng.flatMap(n => Option(n.get("threshold")).map(_.asDouble())).getOrElse(0.7))
          case other => sys.error(s"unknown dedupe mode: $other")
        }
        // an in-flight analyze rides the output write (see below), so
        // these spans are computed once, inside that write
        Some(spansDf.select(col("id"),
          map(lit(dedupAttrName), col("spans")).as("attributes")))
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
    require(!dedupEnabled || !dedupMode.startsWith("bloom") ||
      dedupeNode.exists(d => d.has("bloom_filter")),
      s"""dedupe mode "$dedupMode" requires a "bloom_filter" block""")
    val (bloomAttr: Option[DataFrame], bloomCommit: Option[() => Unit]) =
      dedupeNode.filter(_ => dedupEnabled)
        .flatMap(d => Option(d.get("bloom_filter"))).map { b =>
      import spark.implicits._
      val statePath = b.get("path").asText()
      val cfgShards = Option(b.get("shards")).map(_.asInt()).getOrElse(64)
      val est = Option(b.get("estimated_doc_count")).map(_.asLong()).getOrElse(1000000L)
      val fp = Option(b.get("desired_false_positive_rate")).map(_.asDouble()).getOrElse(1e-4)
      val readOnly = Option(b.get("read_only")).exists(_.asBoolean(false))
      val bloomAttrName = Option(b.get("attribute_name")).map(_.asText())
        .getOrElse("bff_duplicate")
      // "bloom_paragraphs" works at PARAGRAPH grain (the reference
      // deduper's primary production mode: paragraphs probed against the
      // BFF across the whole corpus) — hits become exact paragraph spans,
      // ready for span_replacement scrubbing. "bloom" / "documents" work
      // at doc grain on the configured key.
      val paragraphGrain = dedupMode == "bloom_paragraphs"
      val skipEmpty = Option(b.get("skip_empty")).exists(_.asBoolean(false))
      val existing = graft.dedup.DistributedBloom.loadState(spark, statePath)
      val stShards = existing.map(_._2).getOrElse(cfgShards)
      def probeHits(keys: org.apache.spark.sql.Dataset[(String, String)]) =
        existing match {
          case Some((st, _)) =>
            graft.dedup.DistributedBloom.probeSharded(keys, st, stShards)
              .toDF("id", "__hit").filter(col("__hit")).select(col("id"))
          case None => spark.emptyDataset[String].toDF("id")
        }
      // The state update is DEFERRED to after the output commit (run()
      // executes the returned thunk): saving eagerly would poison the
      // state if the run later failed — a retry would then see its own
      // keys as duplicates and silently drop the whole batch.
      def deferredUpdate(keys: () => org.apache.spark.sql.Dataset[String]): Option[() => Unit] =
        if (readOnly) None
        else Some { () =>
          val fresh = graft.dedup.DistributedBloom.buildSharded(
            keys(), est, fp, stShards)
          val merged = existing match {
            case Some((st, _)) => graft.dedup.DistributedBloom.mergeStates(st, fresh)
            case None => fresh
          }
          graft.dedup.DistributedBloom.saveState(merged, statePath, stShards)
          ()
        }
      if (paragraphGrain) {
        // one paragraph walk feeds BOTH the probe and the state update:
        // checkpoint keys+offsets (16-byte hashes, no text) so the doc
        // pipeline upstream evaluates once
        // Bloom membership is a pure function of content, so duplicate
        // doc ids (warc digests) keep ONE row per (id, idx) — dedup
        // before the probe join or k copies would pack k² identical
        // triples into the span arrays
        val paras0 = graft.dedup.ReferenceDedup.paragraphKeyRows(
          docs, col("id"), coalesce(col("content"), lit("")))
        val paras = (if (skipEmpty) paras0.filter(!col("is_empty")) else paras0)
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
          .select(col("id"), map(lit(bloomAttrName),
            transform(col("__sorted"), s => struct(
              s.getField("start").as("start"), s.getField("end").as("end"),
              s.getField("score").as("score")))).as("attributes"))
        (Some(attr), deferredUpdate(() => paras.select(col("key")).as[String]))
      } else {
        val keyCol = Option(b.get("key")).map(_.asText()) match {
          case Some("id") => col("id")
          case Some("content_sha") | None => sha2(col("content"), 256)
          case Some(other) => sys.error(
            s"""unknown bloom_filter key "$other" (expected "content_sha" or "id")""")
        }
        val keys = docs.select(col("id").cast("string"), keyCol.cast("string"))
          .as[(String, String)]
        val hits = probeHits(keys)
        val attr = hits.join(docs.select(col("id"),
            length(col("content")).cast("long").as("__len")), Seq("id"))
          .select(col("id"), map(lit(bloomAttrName),
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
    if (dedupEnabled && dedupMode == "documents") {
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
    val analyzeNode = Option(cfg.get("analyze"))
      .filter(a => Option(a.get("enabled")).forall(_.asBoolean(true)))
    val analyzeSummaries = analyzeNode.map { a =>
      val summaries = graft.functions.Binning.attributeSummaries(col("attributes"),
        nOut = Option(a.get("bins")).map(_.asInt()).getOrElse(1000),
        regex = opt(a, "regex")).as("summaries")
      Option(a.get("attributes")) match {
        case Some(list) => () =>
          list.elements().asScala.toSeq.map(t => readAttrTable(t).select(col("attributes")))
            .reduce(_ unionAll _).agg(summaries).head().getSeq[Row](0)
        case None =>
          require(withAttrs.columns.contains("attributes"),
            "analyze: no \"attributes\" tables given and this run has no " +
              "taggers/dedupe/attributes_input to analyze")
          val obs = new org.apache.spark.sql.Observation()
          withAttrs = withAttrs.observe(obs, summaries)
          () => obs.get("summaries").asInstanceOf[Seq[Row]]
      }
    }

    // mix. Predicates: the compiled-Column grammar is the hot path;
    // `"syntax": "jq"` (or a jq-looking string the grammar rejects) routes
    // through the generic graft.mixer.Jq interpreter fallback
    // (reference: src/filters.rs:250-385 + SpanReplacementConfig.syntax).
    val filterNode = Option(cfg.get("filter"))
    val filterSyntax = filterNode.flatMap(f => Option(f.get("syntax")).map(_.asText()))
      .getOrElse("jsonpath")
    def preds(kind: String): Seq[org.apache.spark.sql.Column] =
      filterNode.flatMap(f => Option(f.get(kind))).map(_.elements().asScala.map { n =>
        val s = n.asText()
        // expose the REST of the document shape (source, metadata, created,
        // added — whichever the input schema actually has) so fallback jq
        // predicates like `.source == "cc"` evaluate against real values
        def jqExtra: Seq[(String, org.apache.spark.sql.Column)] = {
          val present = withAttrs.columns.toSet
          Seq("source", "metadata", "created", "added")
            .filter(present.contains).map(c => c -> col(c))
        }
        def jqCol() =
          if (kind == "exclude")
            graft.mixer.Jq.excludeColumn(s, col("attributes"), col("id"), col("content"), jqExtra)
          else
            graft.mixer.Jq.includeColumn(s, col("attributes"), col("id"), col("content"), jqExtra)
        if (s == "is_duplicate") col("is_duplicate")
        else if (filterSyntax == "jq") jqCol()
        else
          try PredicateCompiler.compile(s)
          catch { case e: Exception if s.startsWith(".") => jqCol() }
      }.toSeq).getOrElse(Seq.empty)
    val docDedup = dedupEnabled && dedupMode == "documents"
    val exclude = preds("exclude") ++ (if (docDedup) Seq(col("is_duplicate")) else Nil)

    // span selectors: jsonpath "$.attributes.NAME" or (syntax: jq) the
    // optional-path form ".attributes?.NAME?" — both resolve to the flat
    // attribute key of this engine's attribute maps
    val SimpleJqAttr = """^\.attributes\??\.([A-Za-z0-9_]+)\??$""".r
    val replacements = Option(cfg.get("span_replacement")).map(_.elements().asScala.map { r =>
      val rawSpan = r.get("span").asText()
      val spanName = Option(r.get("syntax")).map(_.asText()) match {
        case Some("jq") => rawSpan match {
          case SimpleJqAttr(name) => name
          case other => sys.error(
            s"jq span selector '$other' is not a flat attribute path; " +
              "this engine's attribute maps are keyed exp__tagger__type")
        }
        case _ => rawSpan
      }
      Mixer.SpanReplacementRule(
        spanName,
        Option(r.get("min_score")).map(_.asDouble()).getOrElse(Double.NegativeInfinity),
        Option(r.get("max_score")).map(_.asDouble()).getOrElse(Double.PositiveInfinity),
        Option(r.get("replacement")).map(_.asText()).getOrElse(""))
    }.toSeq).getOrElse(Seq.empty)

    // output.discard_fields (reference cli/mixer.py:179-182 /
    // shard.rs:446-448): user-configured fields dropped from the output
    // document, on top of the engine's own is_duplicate flag
    val userDiscard = Option(cfg.get("output"))
      .flatMap(o => Option(o.get("discard_fields")))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    val mixCfg = Mixer.MixerConfig(
      include = preds("include"),
      exclude = exclude,
      spanReplacements = replacements,
      discardFields = Seq("is_duplicate") ++ userDiscard,
      minTextLength = Option(cfg.get("min_text_length")).map(_.asInt()).getOrElse(0))

    // decision metrics ride the output write as a CollectMetrics node
    // (Dataset.observe): zero extra evaluations of the pipeline
    val metricsOut = Option(cfg.get("metrics_output")).map(_.asText())
    val ruleNames = "total" +:
      (if (docDedup) Seq("dropped_duplicate") else Seq.empty)
    val rulesObs = new org.apache.spark.sql.Observation()
    if (metricsOut.isDefined) {
      val aggs = Metrics.ruleMetricExprs(
        if (docDedup) Seq("dropped_duplicate" -> col("is_duplicate"))
        else Seq.empty)
      withAttrs = withAttrs.observe(rulesObs, aggs.head, aggs.tail: _*)
    }
    val rowsObs = new org.apache.spark.sql.Observation()
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
    val out = cfg.get("output")
    val outPath = out.get("path").asText()
    val outFormat = opt(out, "format").getOrElse("parquet")
    val outCodec = opt(out, "compression")
    val maxRecords = Option(out.get("max_records_per_file")).map(_.asLong())
    def sized(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) = {
      val w1 = maxRecords.map(n => w.option("maxRecordsPerFile", n)).getOrElse(w)
      outCodec.map(c => w1.option("compression", c)).getOrElse(w1)
    }
    outFormat match {
      case "jsonl" =>
        // dolma document format names the text field "text"
        // (docs/data-format.md); the pipeline's internal name is
        // "content", so the jsonl egress renames — the reference's own
        // consumers (and this engine's readDocuments) expect "text"
        writeCommitted((path, mode) =>
          graft.sources.Jsonl.writeDocuments(
            mixed.withColumnRenamed("content", "text"), path,
            codec = outCodec.getOrElse("gzip"), mode = mode,
            maxRecordsPerFile = maxRecords.getOrElse(0L)), outPath)
      case "table" =>
        // catalog output (the seam matching "format": "table" input): the
        // catalog's atomic commit replaces the staging/promote dance, and
        // file-grain resume doesn't compose with snapshot tables — same
        // rule as on the input side.
        require(!resuming,
          "table output does not compose with file-grain ledger resume: " +
            "the catalog's snapshot commit owns atomicity (see Main scaladoc)")
        sized(mixed.write.mode(org.apache.spark.sql.SaveMode.Overwrite))
          .saveAsTable(outPath)
      case _ =>
        writeCommitted((path, mode) =>
          sized(mixed.write.mode(mode)).parquet(path), outPath)
    }
    val rowsWritten = rowsObs.get.get("rows_written") match {
      case Some(n: Number) => n.longValue()
      case _ => 0L
    }

    // analyze: the summary rows (#attributes × 2 of them) reach the driver
    // once — from the write's observation, or from the tables' `.agg`
    for (a <- analyzeNode; summaryRows <- analyzeSummaries) {
      val rows = summaryRows()
      Option(a.get("summaries_output")).map(_.asText()).foreach { p =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          org.apache.spark.sql.Encoders.product[graft.functions.Binning.NamedSummary].schema)
          .write.mode("overwrite").parquet(p)
      }
      val report = graft.tools.AnalyzerReport.render(
        rows.map(r => r.getString(0) -> graft.functions.Binning.Summary(
          r.getSeq[Double](1).toVector, r.getSeq[Long](2).toVector,
          r.getLong(3), r.getDouble(4))).toMap,
        numVizBins = Option(a.get("viz_bins")).map(_.asInt()).getOrElse(10),
        showTotal = Option(a.get("total")).exists(_.asBoolean(false)))
      Option(a.get("report")).map(_.asText()) match {
        case Some(p) =>
          val hp = new org.apache.hadoop.fs.Path(p)
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
    metricsOut.foreach { p =>
      val obsRow = rulesObs.get
      val values = ruleNames.map(n => obsRow.get(n) match {
        case Some(v: Number) => v.longValue()
        case _ => 0L
      })
      spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row.fromSeq(values)),
        org.apache.spark.sql.types.StructType(ruleNames.map(
          org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.LongType))))
        .write.mode("overwrite").parquet(p + "/rules")
      val written = outFormat match {
        case "jsonl" => graft.sources.Jsonl.readDocuments(spark, outPath)
        case "table" => spark.read.table(outPath)
        case _ => spark.read.parquet(outPath)
      }
      Metrics.fileLineage(written, col("id"))
        .write.mode("overwrite").parquet(p + "/lineage")
    }

    // tokens stage (the `dolma tokens` CLI surface, reference
    // tokenizer/executor.py + cli): tokenize the MIXED output into binary
    // memmap shards + a metadata table. Reads back the files the output
    // write just committed (same pattern as the metrics block) so the
    // pipeline still evaluates exactly once.
    Option(cfg.get("tokens"))
      .filter(t => Option(t.get("enabled")).forall(_.asBoolean(true)))
      .foreach { t =>
        val dest = t.get("destination").asText()
        val docsOut = outFormat match {
          // the jsonl egress wrote dolma format ("text"); the internal
          // name is "content" — normalize on read-back
          case "jsonl" => graft.sources.Jsonl.readDocuments(spark, outPath)
            .withColumnRenamed("text", "content")
          case "table" => spark.read.table(outPath)
          case _ => spark.read.parquet(outPath)
        }
        // the pipeline normalizes column names at ingest: the mixed
        // output always carries "id" / "content"
        val toks = Option(t.get("tokenizer")).flatMap(tk => opt(tk, "path")) match {
          case Some(vocabPath) =>
            val tk = t.get("tokenizer")
            def idOf(f: String): Option[Int] =
              Option(tk.get(f)).filterNot(_.isNull).map(_.asInt())
            graft.sources.TokenSink.hfTokenIds(col("content"), vocabPath,
              eosId = idOf("eos_token_id"), bosId = idOf("bos_token_id"),
              segment = Option(tk.get("segment_before_tokenization"))
                .exists(_.asBoolean(false)))
          case None => graft.sources.TokenSink.tokenIds(col("content"),
            vocabSize = Option(t.get("vocab_size")).map(_.asInt()).getOrElse(1 << 16))
        }
        val bpt = Option(t.get("bytes_per_token")).map(_.asInt()).getOrElse(2)
        // writeShards returns a LAZY side-effecting frame — checkpoint it
        // so the downstream metadata write / reshard / export never
        // re-run the shard-writing tasks
        val meta = graft.sources.TokenSink.writeShards(
          docsOut.withColumn("__toks", toks), col("id"), col("__toks"),
          dest + "/shards", bytesPerToken = bpt,
          numShards = Option(t.get("num_shards")).map(_.asInt()).getOrElse(0),
          targetTokensPerShard = Option(t.get("target_tokens_per_shard"))
            .map(_.asLong()).getOrElse(512L * 1024 * 1024)).localCheckpoint()
        val minBytes = Option(t.get("min_shard_size_bytes")).map(_.asLong()).getOrElse(0L)
        val (finalMeta, shardDir) =
          if (minBytes > 0)
            (graft.sources.TokenSink.reshard(spark, dest + "/shards", meta,
              dest + "/resharded", minBytes, bpt).localCheckpoint(),
              dest + "/resharded")
          else (meta, dest + "/shards")
        finalMeta.write.mode("overwrite").parquet(dest + "/metadata")
        // optional dolma on-disk layout (.npy + .csv.gz sidecars) readable
        // by the reference's own downstream consumers
        if (Option(t.get("dolma_layout")).exists(_.asBoolean(false)))
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

  private def opt(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).map(_.asText())

  /** Delete promoted `part-r<id>-*` files whose run-id is not in `keep`
    * (the committed run-ids plus the current one) — leftovers of attempts
    * that crashed between promote and ledger-commit. */
  private def sweepOrphanRuns(spark: SparkSession, dest: String,
      keep: Set[String]): Unit = {
    import org.apache.hadoop.fs.Path
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
    import org.apache.hadoop.fs.Path
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
