package graft

import graft.sources.{Linearizer, Warc}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** WARC ingestion (processor.py semantics over synthesized fixtures). */
class WarcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def warcResponse(uri: String, html: String, charset: String = "utf-8"): Array[Byte] = {
    val body = html.getBytes(StandardCharsets.UTF_8)
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=$charset\r\n\r\n"
    val payload = http.getBytes(StandardCharsets.ISO_8859_1) ++ body
    val rec = s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:$uri>\r\n" +
      s"WARC-Target-URI: $uri\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
      s"WARC-Payload-Digest: sha1:PD${Integer.toHexString(uri.hashCode).toUpperCase}\r\n" +
      s"Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n"
    rec.getBytes(StandardCharsets.ISO_8859_1) ++ payload ++ "\r\n\r\n".getBytes
  }

  private def warcInfo(): Array[Byte] = {
    val body = "software: test\r\n".getBytes
    (s"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:uuid:info>\r\n" +
      s"WARC-Date: 2024-02-03T04:05:06Z\r\n" +
      s"Content-Type: application/warc-fields\r\nContent-Length: ${body.length}\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1) ++ body ++ "\r\n\r\n".getBytes
  }

  private val html1 =
    "<html><head><title>T</title><style>p{}</style></head>" +
      "<body><h1>Heading</h1><p>First paragraph with an email dev1@example.com.</p>" +
      "<script>var x = 1;</script><p>Second &amp; final. " +
      "<a href=\"https://creativecommons.org/licenses/by/4.0/\">license</a></p></body></html>"
  private val html2 = "<html><body><div>clean page</div></body></html>"

  private def writeFixture(gz: Boolean): String = {
    val dir = Files.createTempDirectory("graft-warc").toString
    val bytes = warcInfo() ++
      warcResponse("http://www2.Example.com/a/", html1) ++
      warcResponse("https://other.org/b", html2)
    val name = if (gz) "test.warc.gz" else "test.warc"
    val out = if (gz) {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(bytes); g.close()
      bos.toByteArray
    } else bytes
    Files.write(Paths.get(dir, name), out)
    dir
  }

  test("record parsing: framing, headers, charset, http body split") {
    val recs = Warc.iterateRecords(
      new java.io.ByteArrayInputStream(
        warcInfo() ++ warcResponse("http://x.com/", html2)), gzipped = false).toVector
    assert(recs.map(_.recordType) == Vector("warcinfo", "response"))
    val r = recs(1)
    assert(r.targetUri == "http://x.com/")
    assert(r.httpCharset == "utf-8")
    assert(new String(r.payload, StandardCharsets.UTF_8) == html2)
  }

  test("readRecords: one row per response record, plain and gzip") {
    for (gz <- Seq(false, true)) {
      val dir = writeFixture(gz)
      val df = Warc.readRecords(spark, dir)
      val rows = df.orderBy(col("warc_url")).collect()
      assert(rows.length == 2, s"gz=$gz")
      assert(rows(0).getAs[String]("warc_url") == "http://www2.Example.com/a/")
      // UrlNormalizer: protocol dropped, www\d* stripped, host lowercased,
      // trailing slash removed (warc/utils.py:26-46)
      assert(rows(0).getAs[String]("url") == "example.com/a")
      assert(rows(1).getAs[String]("url") == "other.org/b")
      assert(rows(0).getAs[String]("html").contains("<p>First paragraph"))
    }
  }

  test("linearizer: scripts/styles dropped, blocks to newlines, entities decoded") {
    val text = Linearizer.linearize(html1)
    assert(text.contains("Heading"))
    assert(text.contains("First paragraph with an email dev1@example.com."))
    assert(text.contains("Second & final."))
    assert(!text.contains("var x"))
    assert(!text.contains("p{}"))
    assert(!text.contains("<"))
    // block boundary between heading and paragraph
    assert(text.linesIterator.toSeq.head == "Heading")
  }

  test("linearizer: inline tags don't split words; br breaks lines") {
    // resiliparse semantics: inline elements vanish without whitespace
    val t = Linearizer.linearize(
      "<p>wro<b>ng</b> is <em>right</em>, <a href='x'>link text</a>" +
        " and co<span class=\"s\">de</span></p>")
    assert(t == "wrong is right, link text and code")
    val br = Linearizer.linearize("<p>line one<br>line two<br/>line three</p>")
    assert(br.linesIterator.toSeq == Seq("line one", "line two", "line three"))
  }

  test("linearizer: list bullets and ordered-list numbers (list_bullets=True)") {
    val ul = Linearizer.linearize("<ul><li>alpha</li><li>beta</li></ul>")
    assert(ul.linesIterator.toSeq == Seq("• alpha", "• beta"))
    val ol = Linearizer.linearize("<ol><li>first</li><li>second</li><li>third</li></ol>")
    assert(ol.linesIterator.toSeq == Seq("1. first", "2. second", "3. third"))
    // nesting: the inner ul takes over, the outer ol numbering resumes
    val mixed = Linearizer.linearize(
      "<ol><li>one<ul><li>inner</li></ul></li><li>two</li></ol>")
    assert(mixed.linesIterator.toSeq == Seq("1. one", "• inner", "2. two"))
  }

  test("linearizer: numeric and named character references decode") {
    val t = Linearizer.linearize(
      "<p>caf&#233; &amp; r&#xE9;sum&#xe9; &mdash; 5&deg; &hellip; &unknown; &copy;</p>")
    assert(t == "café & résumé — 5° … &unknown; ©")
    // full HTML4 set: Latin-1 accents, Greek, symbols, typography
    val t2 = Linearizer.linearize(
      "<p>caf&eacute; se&ntilde;or &Uuml;ber &alpha;&beta;&Omega; &euro;5 &le;&infin; &OElig;uvre&shy;s</p>")
    assert(t2 == "café señor Über αβΩ €5 ≤∞ Œuvres")
  }

  test("linearizer: quoted '>' in attributes and hidden subtrees") {
    // a '>' inside a quoted attribute must not terminate the tag
    val t = Linearizer.linearize("""<p><a href="q?a>b" title='x>y'>anchor</a> end</p>""")
    assert(t == "anchor end")
    // noscript/svg/template subtrees are dropped wholesale (noscript=False
    // in the reference's linearizer config)
    val hid = Linearizer.linearize(
      "<p>keep</p><noscript><p>gone</p></noscript><svg><text>gone too</text></svg><p>kept</p>")
    assert(hid.linesIterator.toSeq == Seq("keep", "kept"))
    // script content with a literal '<' inside
    val sc = Linearizer.linearize("<p>a</p><script>if (x<2) y();</script><p>b</p>")
    assert(sc.linesIterator.toSeq == Seq("a", "b"))
  }

  test("linearizer: table cells separate, rows break") {
    val t = Linearizer.linearize(
      "<table><tr><td>a1</td><td>a2</td></tr><tr><td>b1</td><td>b2</td></tr></table>")
    assert(t.linesIterator.toSeq == Seq("a1 a2", "b1 b2"))
  }

  test("extractDocuments: pre/post taggers, skip flags, dolma shape") {
    val dir = writeFixture(gz = false)
    val recs = Warc.readRecords(spark, dir)
    val docs = Warc.extractDocuments(recs, "cc-test",
      preTaggers = Seq("cc_re"),
      postTaggers = Seq("pii_regex_with_counts_fast_v2", "char_length_v1"))
    val rows = docs.orderBy(col("id")).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("source") == "cc-test"))
    assert(rows.forall(r => r.getAs[String]("text").nonEmpty))
    val withEmail = docs
      .filter(col("metadata")("url") === "example.com/a").head()
    assert(withEmail.getAs[String]("text").contains("dev1@example.com"))
    val attrs = withEmail.getAs[Map[String, Any]]("attributes")
    // PRE-tagger parity: cc_re saw the raw html via metadata (text is
    // still empty pre-linearization); keys are {tagger}__{tagger}__{attr}
    assert(attrs.contains("cc_re__cc_re__cc_by_4_0"))
    assert(attrs.keys.exists(_.contains("pii")))
    assert(attrs.keys.exists(_.contains("char_length")))

    // skip_no_pre_taggers: only the page with a CC link survives
    val pretagged = Warc.extractDocuments(recs, "cc-test",
      preTaggers = Seq("cc_re"), skipNoPreTaggers = true)
    assert(pretagged.count() == 1)

    // skip_no_post_taggers: v2r2 token repetitions emit NO spans on clean
    // text, so both pages drop
    val skipped = Warc.extractDocuments(recs, "cc-test",
      postTaggers = Seq("tokenizer_repetitions_v2r2"), skipNoPostTaggers = true)
    assert(skipped.count() == 0)
  }

  test("extractDocuments: one battery pass per tagger phase") {
    val dir = writeFixture(gz = false)
    val docs = Warc.extractDocuments(Warc.readRecords(spark, dir), "cc-test",
      preTaggers = Seq("cc_re"),
      postTaggers = Seq("pii_regex_with_counts_fast_v2", "char_length_v1"))
    val passes = docs.queryExecution.optimizedPlan.collect {
      case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m
    }
    assert(passes.size == 2, docs.queryExecution.optimizedPlan.toString)
  }

  test("extractDocuments: a tagger listed twice equals listing it once") {
    val dir = writeFixture(gz = false)
    val recs = Warc.readRecords(spark, dir)
    def extract(post: Seq[String]) =
      Warc.extractDocuments(recs, "cc-test", postTaggers = post)
        .orderBy(col("id")).collect().map { r =>
          (r.getAs[String]("id"), r.getAs[String]("text"),
            r.getAs[scala.collection.Map[String, Any]]("attributes").toMap)
        }.toSeq
    val once = extract(Seq("char_length_v1"))
    assert(once.forall(_._3.contains("char_length_v1__char_length_v1__length")))
    assert(extract(Seq("char_length_v1", "char_length_v1")) == once)
  }

  test("extractDocuments: dolma metadata parity (warcinfo stamps, digest id)") {
    val dir = writeFixture(gz = false)
    val recs = Warc.readRecords(spark, dir)
    val rows = Warc.extractDocuments(recs, "cc-test").collect()
    assert(rows.length == 2)
    for (r <- rows) {
      val md = r.getAs[Map[String, String]]("metadata")
      assert(md.keySet == Set("warc_url", "url", "warc_date", "warc_filename",
        "content_type", "uncompressed_offset"))
      // warc_date / warc_filename are stamped from the WARCINFO record
      // (processor.py:135-138,167-168), warc_date dolma-formatted
      assert(md("warc_date") == "2024-02-03T04:05:06.000Z")
      assert(md("warc_filename") == "<urn:uuid:info>")
      // content_type is the HTTP Content-Type up to ';' (record_info.py:31-33)
      assert(md("content_type") == "text/html")
      assert(md("uncompressed_offset").toLong > 0)
      // id = payload digest after the algorithm prefix, lowercased
      val id = r.getAs[String]("id")
      assert(id.startsWith("pd") && id == id.toLowerCase)
      assert(r.getAs[String]("created")
        .matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z"""))
      assert(r.getAs[String]("added")
        .matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z"""))
    }
  }

  test("extractDocuments: records without payload digest are invalid and skipped") {
    val dir = Files.createTempDirectory("graft-warc-nodigest").toString
    val noDigest =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:x>\r\n" +
        s"WARC-Target-URI: http://x.com/\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n")
    val body = html2.getBytes(StandardCharsets.UTF_8)
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
    val payload = http.getBytes(StandardCharsets.ISO_8859_1) ++ body
    val bytes = (noDigest + s"Content-Length: ${payload.length}\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1) ++ payload ++ "\r\n\r\n".getBytes
    Files.write(Paths.get(dir, "nd.warc"), bytes)
    // is_valid (record_info.py:42-49): no digest -> record contributes no doc
    assert(Warc.extractDocuments(Warc.readRecords(spark, dir), "t").count() == 0)
  }

  test("chunked transfer encoding is decoded to the contiguous body") {
    val html = "<html><body><p>chunked page body here</p></body></html>"
    val (c1, c2) = html.splitAt(17)
    val chunked = f"${c1.length}%x\r\n$c1\r\n${c2.length}%x\r\n$c2\r\n0\r\n\r\n"
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" + chunked
    val payload = http.getBytes(StandardCharsets.ISO_8859_1)
    val rec = (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:c>\r\n" +
      s"WARC-Target-URI: http://c.com/\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
      s"WARC-Payload-Digest: sha1:CHK\r\n" +
      s"Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1) ++ payload ++ "\r\n\r\n".getBytes
    val r = Warc.iterateRecords(
      new java.io.ByteArrayInputStream(rec), gzipped = false).toVector.head
    assert(new String(r.payload, StandardCharsets.UTF_8) == html)
    // a NON-chunked body containing a hex-digit-leading line is untouched
    val plain = Warc.splitHttpPayload(
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nabc not chunked")
        .getBytes(StandardCharsets.ISO_8859_1))
    assert(new String(plain.body, StandardCharsets.UTF_8) == "abc not chunked")
  }

  // The reference's own WARC integration fixtures: two real CommonCrawl
  // sample shards (tests/python/test_warc.py:48-78 expects 22 and 15
  // extracted documents, every text > 50 chars, the five metadata keys,
  // version v0). Running them end-to-end exercises real-world markup,
  // chunked-transfer bodies, charset fallbacks and digest ids at once.
  test("reference CommonCrawl samples: extraction parity with test_warc.py") {
    val base = "/root/reference/tests/data/warc"
    assume(Files.exists(Paths.get(base, "sample-0000.warc.gz")))
    for ((f, expected) <- Seq("sample-0000.warc.gz" -> 22, "sample-0001.warc.gz" -> 15)) {
      val docs = Warc.extractDocuments(
        Warc.readRecords(spark, s"$base/$f"), "test").collect()
      assert(docs.length == expected, f)
      for (d <- docs) {
        assert(d.getAs[String]("text").length > 50, f)
        val md = d.getAs[Map[String, String]]("metadata")
        for (k <- Seq("warc_url", "url", "warc_date", "warc_filename", "content_type"))
          assert(md.contains(k), s"$f missing $k")
        assert(d.getAs[String]("version") == "v0")
        assert(d.getAs[String]("source") == "test")
        // sha1 payload digests, lowercased: base32 alphabet
        assert(d.getAs[String]("id").matches("[a-z2-7]+"), f)
      }
    }
  }

  // test_warc.py:79-105 (pretag path): cc_re as pre-tagger with
  // skip_no_pre_taggers + store_html_in_metadata. The reference pins the
  // exact surviving documents and their license attribute sets.
  test("reference CommonCrawl samples: cc_re pretag + store_html parity") {
    val base = "/root/reference/tests/data/warc"
    assume(Files.exists(Paths.get(base, "sample-0000.warc.gz")))
    def run(f: String) = Warc.extractDocuments(
      Warc.readRecords(spark, s"$base/$f"), "test",
      preTaggers = Seq("cc_re"), skipNoPreTaggers = true, storeHtml = true)
      .orderBy(col("metadata")("uncompressed_offset").cast("long"))
      .collect()
    def ccSet(r: org.apache.spark.sql.Row): Set[String] =
      r.getAs[Map[String, Any]]("attributes").keys
        .filter(_.startsWith("cc_re__cc_re__cc"))
        .map(_.stripPrefix("cc_re__cc_re__cc_")).toSet

    val s0 = run("sample-0000.warc.gz")
    assert(s0.length == 1)
    assert(s0(0).getAs[Map[String, String]]("metadata")("url") == "soldaini.net")
    assert(s0(0).getAs[Map[String, Any]]("attributes")
      .contains("cc_re__cc_re__cc_by_4_0"))
    assert(s0(0).getAs[Map[String, String]]("metadata").contains("html"))

    val s1 = run("sample-0001.warc.gz")
    assert(s1.length == 3)
    assert(s1.forall(_.getAs[Map[String, String]]("metadata")("url")
      .startsWith("creativecommons.org")))
    assert(ccSet(s1(0)) ==
      Set("by_4_0", "publicdomain_mark_1_0", "by_2_0", "by_3_0_en", "by_nc_sa_4_0"))
    assert(ccSet(s1(1)) == Set("by_4_0", "by_3_0"))
    assert(s1(2).getAs[Map[String, Any]]("attributes")
      .contains("cc_re__cc_re__cc_by_4_0"))
  }

  test("linearizer: missing </head> implies close at the first body element") {
    // hand-written pages commonly omit </head>; a literal-only close
    // would hide the entire document body
    val noClose = "<html><head><title>t</title><meta charset=\"utf-8\">" +
      "<body><p>Hello body</p></body></html>"
    val text = Linearizer.linearize(noClose)
    assert(text.contains("Hello body"), s"got: '$text'")
    assert(!text.contains("t\n") && !text.startsWith("t"), "title must stay hidden")
    // head content that IS head-legal stays hidden even unclosed
    val noBody = "<html><head><title>secret</title><div>visible</div></html>"
    val t2 = Linearizer.linearize(noBody)
    assert(t2.contains("visible") && !t2.contains("secret"), s"got: '$t2'")
  }

  test("malformed Content-Length degrades to resync, not NumberFormatException") {
    val good = warcResponse("http://ok.example/", "<html><body><p>fine</p></body></html>")
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:bad>\r\n" +
      "WARC-Target-URI: http://bad.example/\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
      "WARC-Payload-Digest: sha1:BAD\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      "Content-Length: 1234, 1234\r\n\r\n").getBytes(StandardCharsets.ISO_8859_1) ++
      "HTTP/1.1 200 OK\r\n\r\n<p>junk</p>\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)
    val recs = Warc.iterateRecords(
      new java.io.ByteArrayInputStream(bad ++ good), gzipped = false).toVector
    // the malformed record reads an empty body and the parser resyncs to
    // the next WARC/ marker; the healthy record survives
    assert(recs.exists(_.targetUri == "http://ok.example/"))
  }

  test("same tagger in pre and post phases merges last-wins, no duplicate-key error") {
    val dir = writeFixture(gz = false)
    val out = Warc.extractDocuments(Warc.readRecords(spark, dir), "cc",
      preTaggers = Seq("cc_re"), postTaggers = Seq("cc_re")).collect()
    assert(out.nonEmpty)
    // the license span shows up once (post run over text wins)
    val attrs = out.map(_.getAs[Map[String, Any]]("attributes"))
    assert(attrs.exists(_.keys.exists(_.contains("cc_re"))))
  }

  test("signature tokenization matches the verify stage's ASCII \\s class") {
    // em-space U+2003 is NOT a Java-regex \s separator; the proposal-side
    // tokenizer must agree with split(lower(text), "\\s+")
    val offs = graft.functions.Hashing.tokenOffsets("x\u2003y z")
    assert(offs.length == 4) // two tokens: "x\u2003y" and "z"
    val offsAscii = graft.functions.Hashing.tokenOffsets("a\u000Bb")
    assert(offsAscii.length == 4) // \x0B IS in the \s class: two tokens
  }

  test("dolmaTimestamp: every HTTP/1.1 Date accept-form parses (no now() fallback)") {
    import org.apache.spark.sql.functions.col
    // RFC 1123 zone name / numeric offsets, RFC 850, asctime — the forms
    // the reference's lenient dateparser accepts (record_info.py:57);
    // only genuine garbage may fall back to the current timestamp
    val vectors = Seq(
      "Tue, 15 Nov 1994 08:12:31 GMT" -> "1994-11-15T08:12:31.000Z",
      "Tue, 15 Nov 1994 08:12:31 +0000" -> "1994-11-15T08:12:31.000Z",
      "Tue, 15 Nov 1994 08:12:31 +0200" -> "1994-11-15T06:12:31.000Z", // UTC session
      "Sunday, 06-Nov-94 08:49:37 GMT" -> "1994-11-06T08:49:37.000Z", // POSIX century rule
      "Sunday, 06-Nov-30 08:49:37 GMT" -> "2030-11-06T08:49:37.000Z",
      "Sunday, 06-Nov-1994 08:49:37 GMT" -> "1994-11-06T08:49:37.000Z",
      "Sun Nov  6 08:49:37 1994" -> "1994-11-06T08:49:37.000Z",
      "2024-02-03T04:05:06Z" -> "2024-02-03T04:05:06.000Z")
    import spark.implicits._
    val got = vectors.map(_._1).toDF("d")
      .select(Warc.dolmaTimestamp(col("d"))).as[String].collect()
    assert(got.toSeq == vectors.map(_._2))
    // garbage falls back to a CURRENT timestamp (reference parity), never
    // an error or a null
    val fb = Seq("not a date").toDF("d")
      .select(Warc.dolmaTimestamp(col("d"))).as[String].head()
    assert(fb.startsWith("20") && fb.endsWith("Z"))
  }
}
