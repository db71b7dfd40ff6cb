package graft.config

import com.fasterxml.jackson.annotation.JsonCreator
import com.fasterxml.jackson.databind.{JsonMappingException, JsonNode, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.exc.UnrecognizedPropertyException
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._

/** The [[graft.Main]] pipeline config, one case class per JSON block. This
  * file is the config's only schema: every key, its default and its
  * meaning are documented once, on its field. Fields are camelCase and
  * bind the snake_case keys (`minTextLength` is `"min_text_length"`).
  *
  * [[PipelineConfig.parse]] builds it from the JSON tree before any Spark
  * job. A missing key, or an explicit `null`, takes its default. An
  * unknown key at any depth, an unknown enum value or a missing required
  * key is an `IllegalArgumentException` that names the key path and lists
  * the valid keys or values.
  *
  * The shape mirrors the reference's mixer/tagger configs
  * (src/shard.rs:533-546 StreamConfig), adapted to tables.
  *
  * @param input the documents to curate (required)
  * @param taggers tagger names of the fused battery, e.g. `gopher_v2`
  * @param taggerModules fully-qualified class/object names that register
  *   custom taggers from the `--jars` classpath (the reference's
  *   `taggers_modules`, core/utils.py import_modules); imported on the
  *   driver and in every tagging task
  * @param experiment experiment name, the first part of every attribute
  *   key `experiment__tagger__type`
  * @param dedupe the dedupe stage; absent = no dedupe
  * @param filter document keep/drop rules of the mixer
  * @param spanReplacement span scrub rules of the mixer
  * @param minTextLength documents whose trimmed text is shorter than this
  *   many UTF-8 bytes are dropped (the reference's `trim().len()`)
  * @param output where the mixed documents are written (required)
  * @param tokens the `dolma tokens` stage over the written output; absent
  *   = not run
  * @param analyze the `dolma analyze` stage; absent = not run
  * @param attributesOutput path of a parquet table of this run's tagger
  *   attributes `(id, attributes)`. Writing it adds one write, which the
  *   mix then joins back
  * @param attributesInput attribute tables written by EARLIER tag runs,
  *   merged by id (the reference's split tag-then-mix workflow); later
  *   entries win on duplicate keys, and this run's taggers win over them
  * @param metricsOutput directory for `rules` (rule hit counts) and
  *   `lineage` (output rows per input file) parquet tables
  * @param ledger path of the file-grain resume checkpoint (see the
  *   [[graft.Main]] scaladoc)
  */
final case class PipelineConfig(
    input: Input,
    taggers: Seq[String] = Nil, taggerModules: Seq[String] = Nil, experiment: String = "exp",
    dedupe: Option[Dedupe] = None,
    filter: Filter = Filter(), spanReplacement: Seq[SpanReplacement] = Nil, minTextLength: Int = 0,
    output: Output,
    tokens: Option[Tokens] = None, analyze: Option[Analyze] = None,
    attributesOutput: Option[String] = None, attributesInput: Seq[AttrTable] = Nil,
    metricsOutput: Option[String] = None, ledger: Option[String] = None) {
  require(input != null, "\"input\" is required")
  require(output != null, "\"output\" is required")
  require(ledger.isEmpty || input.format != Format.Table,
    "file-grain ledger resume does not compose with table input: the " +
      "catalog's snapshot isolation owns membership — pin a snapshot " +
      "in the catalog instead (see Main scaladoc)")
}

/** A config file of several pipelines, run in sequence (the reference
  * mixer's multi-stream YAML, src/shard.rs:533-546).
  *
  * @param streams one pipeline config per stream
  */
final case class Streams(streams: Seq[PipelineConfig])

/** Table formats. `table` is a CATALOGED table (`spark.read.table`, path =
  * the table name); `warc` is input-only. */
sealed abstract class Format(val name: String) { override def toString: String = name }

object Format {
  case object Parquet extends Format("parquet")
  /** dolma JSONL: documents `{id, text, ...}`, attributes
    * `{id, attributes: {name: [[start, end, score], ...]}}` */
  case object Jsonl extends Format("jsonl")
  case object Table extends Format("table")
  /** WARC archives, extracted in-pipeline to dolma documents */
  case object Warc extends Format("warc")
  val all: Seq[Format] = Seq(Parquet, Jsonl, Table, Warc)

  @JsonCreator(mode = JsonCreator.Mode.DELEGATING)
  def of(name: String): Format = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"""unknown format "$name"; valid formats: ${all.mkString(", ")}"""))

  private[config] def notWarc(f: Format): Unit = require(f != Warc,
    s"format warc is input-only; valid formats: ${all.filter(_ != Warc).mkString(", ")}")
}

/** @param path input path or glob; the table name for `table` (required)
  * @param format parquet, jsonl, table or warc. `warc` runs the
  *   reference's `dolma warc` extraction in-pipeline (warc/processor.py):
  *   records -> linearized documents, ids = payload digests
  * @param id the document id field. A dot-path (`metadata.id`) is
  *   extracted and its parent struct stays on the document (the
  *   reference's nested field retrievers); a plain name is renamed
  * @param text the document text field, bound like `id`
  * @param sourceName warc only: the documents' `source`
  * @param preTaggers warc only: taggers run on the raw HTML
  * @param postTaggers warc only: taggers run on the linearized text
  * @param skipNoPreTaggers warc only: drop records no pre-tagger flagged
  * @param skipNoPostTaggers warc only: drop documents no post-tagger flagged
  * @param storeHtmlInMetadata warc only: keep the raw HTML in `metadata`
  */
final case class Input(
    path: String, format: Format = Format.Parquet, id: String = "id", text: String = "content",
    sourceName: String = "warc", preTaggers: Seq[String] = Nil, postTaggers: Seq[String] = Nil,
    skipNoPreTaggers: Boolean = false, skipNoPostTaggers: Boolean = false,
    storeHtmlInMetadata: Boolean = false) {
  require(path != null, "\"path\" is required")
}

/** @param enabled false switches a configured block off
  * @param mode `documents`: exact first-occurrence document dedup (later
  *   copies are dropped). `paragraphs` / `ngrams`: duplicate paragraph
  *   spans become the attribute `attributeName`, which a
  *   `span_replacement` rule scrubs (the reference's dedupe -> mix).
  *   `bloom`: doc grain membership against persisted Bloom state only.
  *   `bloom_paragraphs`: paragraph grain Bloom membership, hits become
  *   exact paragraph spans. The bloom modes need `bloomFilter`
  * @param attributeName attribute key of the `paragraphs` / `ngrams` spans
  * @param ngram n-gram overlap settings of mode `ngrams`
  * @param bloomFilter cross-run Bloom state (the reference deduper's Bloom
  *   file). With it, docs or paragraphs whose key is already in PERSISTED
  *   state are marked, in any mode
  */
final case class Dedupe(
    enabled: Boolean = true, mode: String = "documents",
    attributeName: String = "duplicate_paragraphs", ngram: Ngram = Ngram(),
    bloomFilter: Option[BloomFilter] = None) {
  PipelineConfig.oneOf("mode", mode, Dedupe.Modes)
  require(!enabled || !mode.startsWith("bloom") || bloomFilter.isDefined,
    s"""dedupe mode "$mode" requires a "bloom_filter" block""")
}

object Dedupe {
  private[config] val Modes: Seq[String] =
    Seq("documents", "paragraphs", "ngrams", "bloom", "bloom_paragraphs")
}

/** @param length tokens per n-gram
  * @param stride n-gram step in tokens (0 = 1)
  * @param threshold a paragraph whose fraction of already-seen n-grams is
  *   at least this is a duplicate
  */
final case class Ngram(length: Int = 8, stride: Int = 0, threshold: Double = 0.7)

/** @param path state directory; each updating run adds a version (required)
  * @param readOnly probe only, never add this run's keys to the state
  * @param shards number of independent filters of NEW state (existing
  *   state keeps its own)
  * @param estimatedDocCount filter sizing: expected number of keys
  * @param desiredFalsePositiveRate filter sizing: target FP rate
  * @param key doc grain only: `content_sha` (sha256 of the text) or `id`
  * @param skipEmpty paragraph grain only: never mark empty paragraphs
  * @param attributeName attribute key of the membership spans
  */
final case class BloomFilter(
    path: String, readOnly: Boolean = false,
    shards: Int = 64, estimatedDocCount: Long = 1000000L, desiredFalsePositiveRate: Double = 1e-4,
    key: String = "content_sha", skipEmpty: Boolean = false,
    attributeName: String = "bff_duplicate") {
  require(path != null, "\"path\" is required")
  require(key == "content_sha" || key == "id",
    s"""unknown bloom_filter key "$key" (expected "content_sha" or "id")""")
}

/** @param include a document is kept only if one of these predicates
  *   holds (`$.attributes.exp__tagger__type[0][2] > 0.5`); empty = all
  * @param exclude a document is dropped if any of these predicates holds
  * @param syntax `jsonpath` (compiled predicates; a `.`-prefixed string
  *   the compiler rejects falls back to jq) or `jq` (every predicate goes
  *   through the jq interpreter), as the reference's filter `syntax`
  */
final case class Filter(
    include: Seq[String] = Nil, exclude: Seq[String] = Nil, syntax: String = "jsonpath") {
  PipelineConfig.oneOf("syntax", syntax, PipelineConfig.Syntaxes)
}

/** @param span the attribute whose spans are replaced:
  *   `exp__tagger__type`, `$.attributes.NAME` or, with syntax `jq`,
  *   `.attributes?.NAME?` (required)
  * @param syntax `jsonpath` or `jq`, the selector syntax of `span`
  * @param minScore only spans scoring at least this are replaced
  * @param maxScore only spans scoring below this are replaced
  * @param replacement replacement text; `{}` stands for the span's text
  */
final case class SpanReplacement(
    span: String, syntax: String = "jsonpath", minScore: Double = Double.NegativeInfinity,
    maxScore: Double = Double.PositiveInfinity, replacement: String = "") {
  require(span != null, "\"span\" is required")
  PipelineConfig.oneOf("syntax", syntax, PipelineConfig.Syntaxes)
  require(syntax != "jq" || SpanReplacement.JqAttr.matches(span),
    s"jq span selector '$span' is not a flat attribute path; " +
      "this engine's attribute maps are keyed exp__tagger__type")

  /** the flat attribute key the selector names */
  def attribute: String = span match {
    case SpanReplacement.JqAttr(name) if syntax == "jq" => name
    case _ => span
  }
}

object SpanReplacement {
  private val JqAttr = """^\.attributes\??\.([A-Za-z0-9_]+)\??$""".r
}

/** @param path output directory; the table name for `table` (required)
  * @param format parquet, jsonl (dolma documents, text field `text`) or
  *   table
  * @param compression write codec; jsonl defaults to gzip, parquet to
  *   Spark's default
  * @param maxRecordsPerFile output shard size in documents (the
  *   reference's byte budget over the expected document size)
  * @param discardFields fields dropped from the output documents
  */
final case class Output(
    path: String, format: Format = Format.Parquet, compression: Option[String] = None,
    @JsonDeserialize(contentAs = classOf[java.lang.Long]) maxRecordsPerFile: Option[Long] = None,
    discardFields: Seq[String] = Nil) {
  require(path != null, "\"path\" is required")
  Format.notWarc(format)
}

/** An attribute table: a JSON path string, whose format is inferred from
  * the extension (`.jsonl`/`.json`, optionally `.gz`/`.zst`/`.zstd`, is
  * jsonl, anything else parquet), or `{"path", "format"}`.
  *
  * @param path table path; the table name for `table` (required)
  * @param format parquet, jsonl (dolma attribute files) or table
  */
final case class AttrTable(path: String, format: Format = Format.Parquet) {
  require(path != null, "\"path\" is required")
  Format.notWarc(format)
}

object AttrTable {
  @JsonCreator(mode = JsonCreator.Mode.DELEGATING)
  def ofPath(path: String): AttrTable = AttrTable(path,
    if (path.matches(".*\\.jsonl?(\\.(gz|zst|zstd))?$")) Format.Jsonl else Format.Parquet)
}

/** Per attribute name, the distribution of span scores and span lengths
  * as equal-count summaries, plus a console report (cli/analyzer.py,
  * core/analyzer.py).
  *
  * @param enabled false switches a configured block off
  * @param attributes tables to analyze; empty = this run's merged
  *   attributes, summarised inside the output write
  * @param bins summary bins per attribute
  * @param vizBins histogram rows per attribute in the report
  * @param regex only attribute names matching it; absent = all
  * @param total add the total row to the report
  * @param summariesOutput parquet of `(name, bins, counts, total, sum)`
  * @param report report text file; absent = stdout
  */
final case class Analyze(
    enabled: Boolean = true, attributes: Seq[AttrTable] = Nil,
    bins: Int = 1000, vizBins: Int = 10, regex: Option[String] = None, total: Boolean = false,
    summariesOutput: Option[String] = None, report: Option[String] = None)

/** Tokenize the written output into binary shards and a metadata table
  * under `destination` (the reference's tokenizer/executor.py).
  *
  * @param enabled false switches a configured block off
  * @param destination output directory (required when enabled)
  * @param tokenizer HF tokenizer; absent = hashed-vocab ids
  * @param vocabSize vocabulary size of the hashed ids
  * @param bytesPerToken token width in the shards
  * @param numShards shard count; 0 = sized by `targetTokensPerShard`
  * @param targetTokensPerShard tokens per shard when `numShards` is 0
  * @param minShardSizeBytes > 0 merges smaller shards in a reshard pass
  * @param dolmaLayout also export dolma's `.npy` + `.csv.gz` layout
  */
final case class Tokens(
    enabled: Boolean = true, destination: String,
    tokenizer: Option[Tokenizer] = None, vocabSize: Int = 1 << 16, bytesPerToken: Int = 2,
    numShards: Int = 0, targetTokensPerShard: Long = 512L * 1024 * 1024,
    minShardSizeBytes: Long = 0L, dolmaLayout: Boolean = false) {
  require(!enabled || destination != null, "\"destination\" is required")
}

/** @param path HF `tokenizer.json`; absent = hashed-vocab ids
  * @param bosTokenId prepended to every document
  * @param eosTokenId appended to every document
  * @param segmentBeforeTokenization tokenize paragraph by paragraph
  */
final case class Tokenizer(
    path: Option[String] = None,
    @JsonDeserialize(contentAs = classOf[java.lang.Integer]) bosTokenId: Option[Int] = None,
    @JsonDeserialize(contentAs = classOf[java.lang.Integer]) eosTokenId: Option[Int] = None,
    segmentBeforeTokenization: Boolean = false)

object PipelineConfig {
  private[config] val Syntaxes: Seq[String] = Seq("jsonpath", "jq")

  /** one mapper: Jackson introspects each config class once */
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()

  /** Parse one pipeline config. */
  def parse(cfg: JsonNode): PipelineConfig = bind(cfg, classOf[PipelineConfig])

  /** The pipelines of a config file: each `streams` entry, else the file. */
  def parseAll(cfg: JsonNode): Seq[PipelineConfig] =
    if (cfg.has("streams")) bind(cfg, classOf[Streams]).streams else Seq(parse(cfg))

  private def bind[T](cfg: JsonNode, cls: Class[T]): T =
    try mapper.treeToValue(cfg, cls)
    catch {
      case e: UnrecognizedPropertyException =>
        val path = keyPath(e)
        val block = path.take(path.lastIndexOf('.') max 0)
        val keys = e.getKnownPropertyIds.asScala.map(_.toString).toSeq.sorted
        throw new IllegalArgumentException(s"""unknown config key "$path"; valid keys""" +
          (if (block.isEmpty) "" else s""" in "$block"""") + s": ${keys.mkString(", ")}", e)
      case e: JsonMappingException =>
        val why = e.getCause match {
          case c: IllegalArgumentException => c.getMessage.stripPrefix("requirement failed: ")
          case _ => e.getOriginalMessage
        }
        val path = keyPath(e)
        throw new IllegalArgumentException(
          (if (path.isEmpty) "config: " else s"""config "$path": """) + why, e)
    }

  /** `dedupe.bloom_filter.path`, `streams[1].input` */
  private def keyPath(e: JsonMappingException): String =
    e.getPath.asScala.foldLeft("") { (p, r) =>
      if (r.getFieldName == null) s"$p[${r.getIndex}]"
      else if (p.isEmpty) r.getFieldName
      else s"$p.${r.getFieldName}"
    }

  private[config] def oneOf(key: String, v: String, valid: Seq[String]): Unit =
    require(valid.contains(v), s"""unknown $key "$v"; valid values: ${valid.mkString(", ")}""")
}
