package graft.sources

import graft.operators.TagRunner
import graft.taggers.TaggerRegistry

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.nio.charset.{Charset, StandardCharsets}

/** WARC ingestion — the Spark re-expression of the reference's Common
  * Crawl pipeline (/root/reference/python/dolma/warc/processor.py:35-296):
  * parse WARC response records, decode the HTTP payload, run pre-taggers
  * on the raw HTML, linearize HTML → text, run post-taggers, and emit
  * dolma documents.
  *
  * Parallelism grain mirrors the reference exactly: one task per WARC
  * file (`sc.binaryFiles` → streamed record parse over the
  * PortableDataStream, O(record) memory per task). WARC.gz is not
  * block-splittable in general, and CC shards are ~1 GB by construction —
  * per-file tasks are the correct 100-TB unit (the reference's
  * process-per-file pool, parallel-ized by Spark's scheduler instead).
  *
  * Deviations, by design:
  *  - fastwarc → a plain-JVM record parser (WARC/1.0-1.1 framing,
  *    multi-member gzip via GZIPInputStream's native concatenated-member
  *    handling);
  *  - resiliparse linearization → [[Linearizer.linearize]], a small real
  *    HTML-to-text pass (script/style dropped, block tags → newlines,
  *    entities decoded) — pluggable like the reference's
  *    LinearizerRegistry;
  *  - chardet fallback → charset from HTTP headers, then UTF-8, then
  *    ISO-8859-1 (which cannot fail).
  */
object Warc {

  final case class WarcRecord(
      recordType: String,
      recordId: String,
      targetUri: String,
      date: String,
      contentType: String,
      httpCharset: String,
      payload: Array[Byte],
      payloadDigest: String = "",
      httpContentType: String = "",
      httpDate: String = "",
      offset: Long = -1L)

  val recordSchema: StructType = StructType(Seq(
    StructField("record_type", StringType),
    StructField("record_id", StringType),
    StructField("payload_digest", StringType),
    StructField("warc_url", StringType),
    StructField("url", StringType),
    StructField("warc_date", StringType),
    StructField("content_type", StringType),
    StructField("http_content_type", StringType),
    StructField("http_date", StringType),
    StructField("html", StringType),
    StructField("warc_file", StringType),
    StructField("warcinfo_date", StringType),
    StructField("warcinfo_id", StringType),
    StructField("offset", LongType)))

  /** Iterate WARC records from a (possibly multi-member-gzip) stream. */
  def iterateRecords(in0: InputStream, gzipped: Boolean): Iterator[WarcRecord] = {
    val in = new BufferedInputStream(
      if (gzipped) new java.util.zip.GZIPInputStream(in0, 1 << 16) else in0, 1 << 16)

    // Position in the UNCOMPRESSED record stream (bytes consumed so far);
    // each record's start offset is published as `offset` — the
    // uncompressed-stream analogue of fastwarc's `stream_pos` that dolma
    // stores as metadata `uncompressed_offset` (processor.py:170).
    var pos = 0L

    def readLine(): String = {
      val buf = new StringBuilder
      var c = in.read()
      while (c >= 0 && c != '\n') {
        pos += 1
        if (c != '\r') buf.append(c.toChar)
        c = in.read()
      }
      if (c >= 0) pos += 1 // the '\n'
      if (c < 0 && buf.isEmpty) null else buf.toString
    }

    def readFully(n: Long): Array[Byte] = {
      val out = new ByteArrayOutputStream(math.min(n, 1L << 20).toInt)
      val chunk = new Array[Byte](8192)
      var remaining = n
      while (remaining > 0) {
        val r = in.read(chunk, 0, math.min(chunk.length.toLong, remaining).toInt)
        if (r < 0) remaining = 0
        else { out.write(chunk, 0, r); remaining -= r; pos += r }
      }
      out.toByteArray
    }

    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = null
      private def advance(): Unit = {
        nextRec = null
        var recStart = pos
        var line = readLine()
        while (nextRec == null && line != null) {
          if (line.startsWith("WARC/")) {
            // WARC named fields until the empty line
            val headers = scala.collection.mutable.HashMap.empty[String, String]
            var h = readLine()
            while (h != null && h.nonEmpty) {
              val colon = h.indexOf(':')
              if (colon > 0)
                headers.update(h.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT),
                  h.substring(colon + 1).trim)
              h = readLine()
            }
            // a malformed value (duplicate-header merge "1234, 1234",
            // garbage) must degrade like a truncated body does, not
            // abort the archive with NumberFormatException
            val len = headers.getOrElse("content-length", "0")
              .toLongOption.getOrElse(0L)
            val body = readFully(len)
            val rtype = headers.getOrElse("warc-type", "")
            val warcCtype = headers.getOrElse("content-type", "")
            val http =
              if (rtype == "response" && warcCtype.startsWith("application/http"))
                splitHttpPayload(body)
              else HttpPayload("", "", "", body)
            // content_type parity (record_info.py:31-37): responses take
            // the HTTP Content-Type up to ';', resources the WARC-level one.
            val effCtype =
              if (rtype == "response") http.contentType
              else warcCtype.split(";", 2)(0).trim
            nextRec = WarcRecord(
              recordType = rtype,
              recordId = headers.getOrElse("warc-record-id", ""),
              targetUri = headers.getOrElse("warc-target-uri", ""),
              date = headers.getOrElse("warc-date", ""),
              contentType = warcCtype,
              httpCharset = http.charset,
              payload = http.body,
              payloadDigest = headers.getOrElse("warc-payload-digest", ""),
              httpContentType = effCtype,
              httpDate =
                if (rtype == "response") http.date
                else headers.getOrElse("warc-date", ""),
              offset = recStart)
          } else { recStart = pos; line = readLine() }
        }
      }
      advance()
      def hasNext: Boolean = nextRec != null
      def next(): WarcRecord = { val r = nextRec; advance(); r }
    }
  }

  /** Parsed HTTP response head: declared charset, Content-Type up to ';'
    * (record_info.py:31-33), the Date header verbatim (record_info.py:34
    * feeds it to dateparser; [[Warc.dolmaTimestamp]] formats it), body. */
  final case class HttpPayload(
      charset: String, contentType: String, date: String, body: Array[Byte])

  /** Split an HTTP response payload into its parsed head and body. */
  def splitHttpPayload(bytes: Array[Byte]): HttpPayload = {
    // find \r\n\r\n (or \n\n) header terminator
    var i = 0
    var end = -1
    while (end < 0 && i < bytes.length - 1) {
      if (bytes(i) == '\n' &&
          (i + 1 < bytes.length && bytes(i + 1) == '\n')) end = i + 2
      else if (bytes(i) == '\n' && i + 2 < bytes.length &&
          bytes(i + 1) == '\r' && bytes(i + 2) == '\n') end = i + 3
      i += 1
    }
    if (end < 0) return HttpPayload("", "", "", bytes)
    val head = new String(bytes, 0, end, StandardCharsets.ISO_8859_1)
    def header(name: String): String =
      s"(?im)^$name:\\s*([^\\r\\n]*)".r.findFirstMatchIn(head)
        .map(_.group(1).trim).getOrElse("")
    val charset = {
      val m = "(?i)charset=([A-Za-z0-9_\\-]+)".r.findFirstMatchIn(head)
      m.map(_.group(1)).getOrElse("")
    }
    val rawBody = java.util.Arrays.copyOfRange(bytes, end, bytes.length)
    // fastwarc's record.reader hands dolma the TRANSFER-DECODED body; a
    // chunked response kept raw would interleave hex chunk-size lines
    // with the markup, so mirror the decode here.
    val body =
      if (header("Transfer-Encoding").toLowerCase(java.util.Locale.ROOT).contains("chunked"))
        dechunk(rawBody)
      else rawBody
    HttpPayload(charset, header("Content-Type").split(";", 2)(0).trim,
      header("Date"), body)
  }

  /** Decode an HTTP/1.1 chunked transfer encoding (RFC 9112 §7.1): each
    * chunk is `<hex size>[;ext]\r\n<data>\r\n`, terminated by a zero-size
    * chunk. Malformed input falls back to the raw bytes unchanged. */
  private def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length)
    var i = 0
    var ok = true
    var done = false
    while (!done && ok && i < b.length) {
      var j = i
      while (j < b.length && b(j) != '\n') j += 1
      val line = new String(b, i, j - i, StandardCharsets.ISO_8859_1).trim
      val size =
        try java.lang.Long.parseLong(line.split(";")(0).trim, 16)
        catch { case _: Exception => -1L }
      if (size < 0 || j >= b.length) { ok = size == 0 || line.isEmpty; done = true }
      else if (size == 0) done = true
      else {
        val start = j + 1
        val end2 = start + size
        if (end2 > b.length) { // truncated chunk: keep what's there
          out.write(b, start, b.length - start); done = true
        } else {
          out.write(b, start, size.toInt)
          i = end2.toInt
          if (i < b.length && b(i) == '\r') i += 1
          if (i < b.length && b(i) == '\n') i += 1
        }
      }
    }
    if (!ok || out.size() == 0) b else out.toByteArray
  }

  /** Charset decode: declared charset, then UTF-8, then Latin-1
    * (processor.py:146-157's charset → chardet ladder). */
  def decode(payload: Array[Byte], declared: String): String = {
    def tryDecode(cs: String): Option[String] =
      try {
        val dec = Charset.forName(cs).newDecoder()
        Some(dec.decode(java.nio.ByteBuffer.wrap(payload)).toString.trim)
      } catch { case _: Exception => None }
    (if (declared.nonEmpty) tryDecode(declared) else None)
      .orElse(tryDecode("UTF-8"))
      .getOrElse(new String(payload, StandardCharsets.ISO_8859_1).trim)
  }

  /** UrlNormalizer (warc/utils.py:26-46): strip wrapping quotes/brackets,
    * drop the protocol, strip the www\d* subdomain and trailing slashes,
    * lowercase the host. */
  def normalizeUrl(url: String): String = {
    var s = url.replaceAll("(^['\"<]+)|([/'\">]+$)", "")
    val scheme = s.indexOf("://")
    if (scheme >= 0) s = s.substring(scheme + 3)
    val slash = s.indexOf('/')
    s = if (slash >= 0) s.substring(0, slash).toLowerCase(java.util.Locale.ROOT) + s.substring(slash) else s.toLowerCase(java.util.Locale.ROOT)
    s = s.replaceAll("^www\\d*\\.", "").replaceAll("/+$", "")
    s
  }

  /** Read raw WARC records: one Spark task per file, STREAMED.
    *
    * `sc.binaryFiles` hands each task a [[org.apache.spark.input.PortableDataStream]]
    * that the record parser consumes incrementally, so per-task memory is
    * O(one record), not O(file): a ~1 GB CC shard never materializes as a
    * byte array (the earlier `binaryFile`-source formulation did exactly
    * that, and also inherited its 2 GB per-file cap — files beyond 2 GB
    * are fine here). The stream is closed on task completion. */
  def readRecords(spark: SparkSession, path: String): DataFrame = {
    val rdd = spark.sparkContext.binaryFiles(path).flatMap { case (file, pds) =>
      val gz = file.endsWith(".gz")
      val in = pds.open()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ =>
          try in.close() catch { case _: Exception => () }))
      // The warcinfo record at the head of a (CC-style) WARC file names the
      // capture: dolma stamps every document's metadata `warc_date` /
      // `warc_filename` from the LAST-SEEN warcinfo's date / record id
      // (processor.py:135-138,167-168), so carry them as loop state.
      var infoDate = ""; var infoId = ""
      iterateRecords(in, gz).flatMap { r =>
        if (r.recordType == "warcinfo") {
          infoDate = r.date; infoId = r.recordId; Nil
        } else if (r.recordType == "response" || r.recordType == "resource") {
          Row(r.recordType, r.recordId, r.payloadDigest, r.targetUri,
            normalizeUrl(r.targetUri), r.date, r.contentType,
            r.httpContentType, r.httpDate,
            decode(r.payload, r.httpCharset), file, infoDate, infoId,
            r.offset) :: Nil
        } else Nil
      }
    }
    spark.createDataFrame(rdd, recordSchema)
  }

  /** Full extraction pipeline (processor.py:160-206): pre-taggers on the
    * HTML, linearize, post-taggers on the text; skip flags mirror
    * skip_no_pre_taggers / skip_no_post_taggers. Returns dolma-shaped
    * documents (id, text, source, version, metadata, attributes). */
  def extractDocuments(
      records: DataFrame,
      sourceName: String,
      preTaggers: Seq[String] = Nil,
      postTaggers: Seq[String] = Nil,
      skipNoPreTaggers: Boolean = false,
      skipNoPostTaggers: Boolean = false,
      storeHtml: Boolean = false,
      keepWarcFile: Boolean = false,
      taggerModules: Seq[String] = Nil): DataFrame = {
    val withText = records
      .filter(length(col("html")) > 0)
      // is_valid (record_info.py:42-49): records missing a payload digest
      // or target URI are skipped before any tagging.
      .filter(length(col("payload_digest")) > 0 && length(col("warc_url")) > 0)
      .withColumn("text", Linearizer.linearizeCol(col("html")))
    // Tagger phases (processor.py:180-197): PRE-taggers run BEFORE
    // linearization, on a doc whose text is still empty — taggers that
    // need the raw markup (cc_re) read it from metadata["html"], so the
    // html rides in the tagger metadata, not as the text. POST-taggers
    // run on the linearized text. Attribute keys mangle each tagger's
    // OWN name as the experiment ({t}__{t}__{attr}, processor.py:194-197),
    // so each phase is one battery pass of (tagger, tagger) pairs. A
    // tagger listed twice runs once: it would emit the same spans again.
    val tagMeta = Seq("html", "warc_url", "url")
    def phase(d: DataFrame, taggers: Seq[String], textCol: String,
              out: String): DataFrame = {
      val tagged =
        if (taggers.isEmpty)
          d.withColumn(out, map().cast(MapType(StringType, TagRunner.spanTripleType)))
        else TagRunner.battery(d, taggers.distinct.map(t => t -> t), textCol,
          tagMeta, roundScores = true, out, taggerModules)
      tagged.withColumn(s"n_$out", size(map_keys(col(out))))
    }
    val tagged = phase(
      phase(withText.withColumn("__no_text", lit("")),
        preTaggers, "__no_text", "__pre_attrs"),
      postTaggers, "text", "__post_attrs")
      .withColumnRenamed("n___pre_attrs", "n_pre")
      .withColumnRenamed("n___post_attrs", "n_post")
    val filtered = tagged
      .filter(if (skipNoPreTaggers) col("n_pre") > 0 else lit(true))
      .filter(if (skipNoPostTaggers) col("n_post") > 0 else lit(true))
    // Metadata parity (processor.py:163-171): `warc_date`/`warc_filename`
    // come from the capture's WARCINFO record (date / record id — yes, the
    // reference stores the warcinfo RECORD ID under "warc_filename"),
    // `content_type` is the HTTP Content-Type up to ';', and the record's
    // own start offset rides along as `uncompressed_offset`.
    val metaCols = Seq(
      col("warc_url"), col("url"), dolmaTimestamp(col("warcinfo_date")),
      col("warcinfo_id"), col("http_content_type"),
      col("offset").cast("string")) ++
      (if (storeHtml) Seq(col("html")) else Nil)
    val metaNames = Seq("warc_url", "url", "warc_date", "warc_filename",
      "content_type", "uncompressed_offset") ++
      (if (storeHtml) Seq("html") else Nil)
    // a tagger listed in BOTH phases emits the same keys: post wins
    // (dict.update), instead of map_concat's duplicate-key error
    val attrsCol = graft.mixer.Mixer.map_concat_dedup(
      col("__pre_attrs"), col("__post_attrs"))
    filtered.select(Seq(
      // payload_id (record_info.py:28): the digest value after the
      // algorithm prefix, lowercased — "sha1:B64…" → "b64…".
      lower(regexp_replace(col("payload_digest"), "^[^:]*:", "")).as("id"),
      col("text"),
      lit(sourceName).as("source"),
      lit("v0").as("version"),
      // created = the response's own HTTP Date (record_info.py:34,
      // processor.py:199); added = extraction time (processor.py:200).
      dolmaTimestamp(col("http_date")).as("created"),
      dolmaTimestamp(lit(null).cast("string")).as("added"),
      map(metaNames.zip(metaCols).flatMap { case (n, c) => Seq(lit(n), c) }: _*)
        .as("metadata"),
      attrsCol.as("attributes")) ++
      // provenance seam for the config runner: the originating .warc file
      // (file-grain resume + provenance stamping need it; the RDD-backed
      // frame has no input_file_name())
      (if (keepWarcFile) Seq(col("warc_file").as("__warc_file")) else Nil): _*)
  }

  /** Dolma's near-ISO-8601 timestamp (processor.py:46-50): millisecond
    * precision + 'Z'. The reference parses dates with the lenient
    * `dateparser` library (record_info.py:57, hinted by DATE_FORMATS =
    * RFC-1123 / ISO) and falls back to `datetime.now()` only when parsing
    * fails entirely. This accepts the same shapes real HTTP `Date:`
    * headers take — ISO, RFC-1123 with a zone name OR a numeric offset
    * (`+0200`), RFC-850 (`Sunday, 06-Nov-94`), and asctime
    * (`Sun Nov  6 08:49:37 1994`), all HTTP/1.1-mandated accept-forms —
    * before stamping the current time, so a merely-foreign offset never
    * silently becomes extraction time. */
  def dolmaTimestamp(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // Spark 3+ patterns reject 'E' (day-of-week) and zone-NAME parsing:
    // strip the redundant weekday prefix and GMT/UTC suffix, collapse
    // asctime's double space; numeric offsets stay for the 'Z' patterns
    // (parsed then rendered in session time — UTC on this engine).
    val s = regexp_replace(
      regexp_replace(c, "^[A-Za-z]+,?\\s+|\\s+(GMT|UTC)$", ""),
      "\\s{2,}", " ")
    concat(date_format(coalesce(
      try_to_timestamp(c),                                        // ISO
      try_to_timestamp(s, lit("dd MMM yyyy HH:mm:ss")),           // RFC 1123, zone name stripped
      try_to_timestamp(s, lit("dd MMM yyyy HH:mm:ss Z")),         // RFC 1123, numeric offset
      // RFC 850 two-digit years: Java's 'yy' bases at 2000, but HTTP/1.1
      // (RFC 9110 §5.6.7) mandates the POSIX reading — a year that looks
      // >50 years in the future is the previous century
      { val t = try_to_timestamp(s, lit("dd-MMM-yy HH:mm:ss"))
        when(t > current_timestamp() + expr("INTERVAL 50 YEARS"),
          t - expr("INTERVAL 100 YEARS")).otherwise(t) },
      try_to_timestamp(s, lit("dd-MMM-yyyy HH:mm:ss")),           // RFC-850 4-digit variant
      try_to_timestamp(s, lit("MMM d HH:mm:ss yyyy")),            // asctime
      current_timestamp()), "yyyy-MM-dd'T'HH:mm:ss.SSS"), lit("Z"))
  }
}

/** Real HTML → text linearizer (stand-in for resiliparse's
  * `extract_plain_text`, warc/linearizers.py:35-91, at the reference's
  * configuration: preserve_formatting + list_bullets on, alt_texts /
  * links / form_fields / noscript off; registered behind one function so
  * a better engine can be swapped in). Semantics aligned with
  * resiliparse's documented behavior:
  *  - INLINE tags (a/b/i/em/strong/span/code/...) vanish without
  *    inserting whitespace — `wro<b>ng</b>` linearizes to `wrong`;
  *  - block-level tags and `<br>` break lines;
  *  - list items get bullets (`\u2022 `) and ordered-list numbers
  *    (`1. `), with counters tracked per nesting level (indentation is
  *    not reproduced — lines are left-trimmed);
  *  - script/style/noscript/template/iframe/svg/head content is dropped;
  *  - character references decode, named (the common set) and numeric
  *    (`&#NNN;` / `&#xHH;`);
  *  - horizontal whitespace collapses, blank lines drop.
  */
object Linearizer {

  private val BlockTags = Set("p", "div", "li", "ul", "ol", "dl", "dt", "dd",
    "h1", "h2", "h3", "h4", "h5", "h6", "tr", "table", "thead", "tbody",
    "tfoot", "caption", "section", "article", "aside", "header", "footer",
    "nav", "main", "blockquote", "pre", "figure", "figcaption", "address",
    "hr", "form", "fieldset", "details", "summary")
  // content dropped entirely (head covers title/meta; noscript is off in
  // the reference's linearizer config)
  private val HiddenTags = Set("script", "style", "noscript", "template",
    "iframe", "svg", "head", "object", "select", "textarea", "button")
  // elements legal inside <head> — anything else implies </head> (HTML5)
  private val HeadAllowed = Set("title", "meta", "link", "style", "script",
    "base", "noscript", "template", "head")
  // table cells separate with a space so row text doesn't fuse
  private val CellTags = Set("td", "th")

  // The full HTML4 named-entity set (the W3C HTML 4.01 DTDs: Latin-1
  // block 160-255 in DTD order, plus the symbol/Greek and special
  // blocks), so accented text on real pages decodes instead of leaving
  // `&eacute;` residue in the linearized output. `shy` (soft hyphen)
  // deliberately maps to "" \u2014 it's an invisible break hint.
  private val Latin1EntityNames: Array[String] = Array(
    // 160..255, "" = covered by the explicit map (shy) or unnamed
    "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
    "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr",
    "deg", "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot",
    "cedil", "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
    "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil",
    "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc", "Iuml",
    "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml", "times",
    "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute", "THORN", "szlig",
    "agrave", "aacute", "acirc", "atilde", "auml", "aring", "aelig", "ccedil",
    "egrave", "eacute", "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
    "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
    "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml")

  private val NamedEntities: Map[String, String] = {
    val base = Map(
      "amp" -> "&", "lt" -> "<", "gt" -> ">",
      "quot" -> "\"", "apos" -> "'", "hellip" -> "\u2026",
      "mdash" -> "\u2014", "ndash" -> "\u2013", "rsquo" -> "\u2019",
      "lsquo" -> "\u2018", "ldquo" -> "\u201c", "rdquo" -> "\u201d",
      "sbquo" -> "\u201a", "bdquo" -> "\u201e", "dagger" -> "\u2020",
      "Dagger" -> "\u2021", "permil" -> "\u2030", "lsaquo" -> "\u2039",
      "rsaquo" -> "\u203a", "trade" -> "\u2122", "bull" -> "\u2022",
      "prime" -> "\u2032", "Prime" -> "\u2033", "oline" -> "\u203e",
      "frasl" -> "\u2044", "euro" -> "\u20ac", "ensp" -> "\u2002",
      "emsp" -> "\u2003", "thinsp" -> "\u2009", "zwnj" -> "\u200c",
      "zwj" -> "\u200d", "lrm" -> "\u200e", "rlm" -> "\u200f",
      "OElig" -> "\u0152", "oelig" -> "\u0153", "Scaron" -> "\u0160",
      "scaron" -> "\u0161", "Yuml" -> "\u0178", "fnof" -> "\u0192",
      "circ" -> "\u02c6", "tilde" -> "\u02dc",
      "larr" -> "\u2190", "uarr" -> "\u2191", "rarr" -> "\u2192",
      "darr" -> "\u2193", "harr" -> "\u2194", "infin" -> "\u221e",
      "ne" -> "\u2260", "le" -> "\u2264", "ge" -> "\u2265",
      "minus" -> "\u2212", "lowast" -> "\u2217", "radic" -> "\u221a",
      "sum" -> "\u2211", "prod" -> "\u220f", "int" -> "\u222b",
      "asymp" -> "\u2248", "equiv" -> "\u2261", "loz" -> "\u25ca",
      "spades" -> "\u2660", "clubs" -> "\u2663", "hearts" -> "\u2665",
      "diams" -> "\u2666", "shy" -> "")
    val greekLower = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigmaf sigma tau upsilon phi chi psi omega"
      .split(' ').zipWithIndex.map { case (n, i) =>
        // U+03B1.. with sigmaf U+03C2 folded into the run at index 17
        n -> String.valueOf((0x3b1 + i).toChar)
      }
    val greekUpper = "Alpha Beta Gamma Delta Epsilon Zeta Eta Theta Iota Kappa Lambda Mu Nu Xi Omicron Pi Rho XXX Sigma Tau Upsilon Phi Chi Psi Omega"
      .split(' ').zipWithIndex.collect { case (n, i) if n != "XXX" =>
        n -> String.valueOf((0x391 + i).toChar)
      }
    val latin1 = Latin1EntityNames.zipWithIndex.collect {
      case (n, i) if n != "shy" => n -> String.valueOf((160 + i).toChar)
    }
    base ++ latin1 ++ greekLower ++ greekUpper
  }
  private val EntityRe =
    java.util.regex.Pattern.compile("&(#[xX]?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]*);")

  private def decodeEntities(s: String): String = {
    val m = EntityRe.matcher(s)
    // java.lang.StringBuilder: the (CharSequence, start, end) append —
    // Scala's StringBuilder would silently auto-tuple a 3-arg append
    val out = new java.lang.StringBuilder(s.length)
    var last = 0
    while (m.find()) {
      out.append(s, last, m.start())
      val body = m.group(1)
      val rep =
        if (body.startsWith("#x") || body.startsWith("#X"))
          try String.valueOf(Character.toChars(Integer.parseInt(body.substring(2), 16)))
          catch { case _: Exception => m.group() }
        else if (body.startsWith("#"))
          try String.valueOf(Character.toChars(Integer.parseInt(body.substring(1))))
          catch { case _: Exception => m.group() }
        else NamedEntities.getOrElse(body, m.group())
      out.append(rep)
      last = m.end()
    }
    out.append(s, last, s.length)
    out.toString
  }

  def linearize(html: String): String = {
    val src = html.replaceAll("(?s)<!--.*?-->", " ")
    val lower = src.toLowerCase(java.util.Locale.ROOT)
    val sb = new StringBuilder(src.length)
    // ordered-list state per nesting level: -1 = ul, >=1 = next ol number
    val listStack = scala.collection.mutable.Stack.empty[Int]
    var hiddenDepth = 0
    var hiddenTag = "" // the hidden element we are inside
    var i = 0
    while (i < src.length) {
      val c = src.charAt(i)
      if (c == '<') {
        // Find tag end respecting quoted attribute values. Per the HTML5
        // tokenizer, a quote only opens an attribute VALUE when it directly
        // follows '=' (before-attribute-value state); elsewhere a stray
        // quote is just a bogus attribute name. Real CommonCrawl pages
        // contain tags like `content="…" " />` whose extra quote would
        // otherwise flip the parity and swallow the rest of the document.
        var j = i + 1
        var quote: Char = 0
        var prev: Char = 0 // last non-space char seen outside a quoted value
        while (j < src.length && (quote != 0 || src.charAt(j) != '>')) {
          val ch = src.charAt(j)
          if (quote != 0) { if (ch == quote) quote = 0 }
          else if ((ch == '"' || ch == '\'') && prev == '=') quote = ch
          if (quote == 0 && !ch.isWhitespace) prev = ch
          j += 1
        }
        if (j >= src.length) i = src.length
        else {
          val inner = src.substring(i + 1, j)
          val isClose = inner.startsWith("/")
          val selfClose = inner.endsWith("/")
          // Locale.ROOT: a Turkish-locale JVM lowercases SCRIPT to
          // "scrıpt" (dotless i), leaking script bodies into the text
          val name = inner.stripPrefix("/")
            .takeWhile(ch => ch.isLetterOrDigit).toLowerCase(java.util.Locale.ROOT)
          // HTML5 implied </head>: hand-written pages commonly omit it,
          // and a literal-only close would hide the ENTIRE body. Any
          // start tag not allowed in head (body, div, p, ...) closes the
          // head context.
          if (hiddenDepth > 0 && hiddenTag == "head" && !isClose &&
              name.nonEmpty && !HeadAllowed.contains(name)) {
            hiddenDepth = 0; hiddenTag = ""
          }
          if (hiddenDepth > 0) {
            // only same-name tags nest/unnest the hidden element
            if (name == hiddenTag) {
              if (isClose) hiddenDepth -= 1 else if (!selfClose) hiddenDepth += 1
            }
          } else if (HiddenTags.contains(name)) {
            if (!isClose && !selfClose) {
              // script/style are raw-text elements: their content may hold
              // literal '<', so skip straight to the real close tag
              if (name == "script" || name == "style") {
                val end = lower.indexOf(s"</$name", j)
                if (end < 0) j = src.length
                else {
                  val gt = src.indexOf('>', end)
                  j = if (gt < 0) src.length else gt
                }
              } else { hiddenDepth = 1; hiddenTag = name }
            }
            sb.append(' ')
          } else if (name == "br") {
            sb.append('\n')
          } else if (name == "li") {
            if (!isClose) {
              val marker = if (listStack.nonEmpty && listStack.top >= 1) {
                val n = listStack.pop(); listStack.push(n + 1); s"$n. "
              } else "\u2022 "
              sb.append('\n').append(marker)
            } else sb.append('\n')
          } else if (name == "ul" || name == "ol") {
            if (!isClose && !selfClose) listStack.push(if (name == "ol") 1 else -1)
            else if (isClose && listStack.nonEmpty) listStack.pop()
            sb.append('\n')
          } else if (BlockTags.contains(name)) {
            sb.append('\n')
          } else if (CellTags.contains(name)) {
            sb.append(' ')
          }
          // inline tags (a/b/i/em/span/...): append NOTHING — they must
          // not split words
          i = j + 1
        }
      } else {
        if (hiddenDepth == 0) sb.append(c)
        i += 1
      }
    }
    decodeEntities(sb.toString).linesIterator
      .map(_.replaceAll("[ \\t\\x0B\\f\\r\\u00a0]+", " ").trim)
      .filter(_.nonEmpty)
      .mkString("\n")
  }

  def linearizeCol(html: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val f = org.apache.spark.sql.functions.udf((s: String) =>
      if (s == null) "" else linearize(s))
    f(html)
  }
}
