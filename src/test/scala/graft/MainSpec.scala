package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end config-driven pipeline (the spark-submit surface). */
class MainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("config-driven pipeline: tag, dedupe, filter, scrub, metrics, resume") {
    val dir = Files.createTempDirectory("graft-main").toString
    graft.sources.CodeDocs.generate(spark, 200L).toDF()
      .withColumn("id", concat_ws(":", col("repo"), col("path"), col("commit")))
      .write.parquet(s"$dir/input")

    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/input",
         |            "id": "id", "text": "content"},
         |  "taggers": ["gopher_v2", "pii_regex_with_counts_fast_v2"],
         |  "experiment": "e",
         |  "dedupe": {"enabled": true},
         |  "filter": {"exclude": [
         |    "$$.attributes.e__pii_regex_with_counts_fast_v2__doc_count[0][2] > 5"]},
         |  "span_replacement": [
         |    {"span": "e__pii_regex_with_counts_fast_v2__EMAIL_ADDRESS",
         |     "min_score": 0.5, "replacement": "[EMAIL]"}],
         |  "min_text_length": 1,
         |  "output": {"path": "$dir/out", "format": "parquet"},
         |  "attributes_output": "$dir/attrs",
         |  "metrics_output": "$dir/metrics",
         |  "ledger": "$dir/ledger"
         |}""".stripMargin
    val cfg = new com.fasterxml.jackson.databind.ObjectMapper().readTree(config)

    Main.run(spark, cfg)

    // single evaluation: every document flowed through the tagger battery
    // exactly once despite attrs/output/metrics/ledger all being written
    assert(graft.operators.TagRunner.lastDocsTagged.get.value == 200L)

    val out = spark.read.parquet(s"$dir/out")
    val n1 = out.count()
    assert(n1 > 0)
    assert(out.columns.contains("provenance"))
    assert(out.filter(col("content").rlike("dev\\d+@example\\.com")).count() == 0)

    val attrs = spark.read.parquet(s"$dir/attrs")
    assert(attrs.count() == 200)

    val lineage = spark.read.parquet(s"$dir/metrics/lineage")
    assert(lineage.agg(sum("rows")).as[Long].head() == n1)
    val rules = spark.read.parquet(s"$dir/metrics/rules")
    assert(rules.select("total").as[Long].head() == 200L)

    // ledger is file-grain: one key per input file, not per document
    val ledger = spark.read.parquet(s"$dir/ledger")
    val nInputFiles = spark.read.parquet(s"$dir/input").inputFiles.length
    assert(ledger.count() == nInputFiles)

    // resume: second run sees everything completed → skips entirely,
    // PRESERVING the completed output (no overwrite-with-empty) and doing
    // zero tagging work (the accumulator from run 1 is untouched)
    val accBefore = graft.operators.TagRunner.lastDocsTagged.get
    Main.run(spark, cfg)
    assert(spark.read.parquet(s"$dir/out").count() == n1)
    assert(graft.operators.TagRunner.lastDocsTagged.get eq accBefore)
    assert(accBefore.value == 200L)
  }

  test("partial resume: new input files append; completed files' output kept") {
    val dir = Files.createTempDirectory("graft-main-resume").toString
    Seq(("a", "alpha text here"), ("b", "beta text here"))
      .toDF("id", "content").repartition(1).write.parquet(s"$dir/input")

    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/input"},
         |  "taggers": ["char_length_v1"],
         |  "experiment": "e",
         |  "output": {"path": "$dir/out", "format": "parquet"},
         |  "attributes_output": "$dir/attrs",
         |  "ledger": "$dir/ledger"
         |}""".stripMargin
    val cfg = new com.fasterxml.jackson.databind.ObjectMapper().readTree(config)
    Main.run(spark, cfg)
    assert(spark.read.parquet(s"$dir/out").count() == 2)

    // a new input file arrives; the resumed run processes ONLY it and
    // appends — prior output survives, nothing is double-processed
    Seq(("c", "gamma text here")).toDF("id", "content")
      .repartition(1).write.mode("append").parquet(s"$dir/input")
    Main.run(spark, cfg)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 3)
    assert(out.select("id").as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
    assert(graft.operators.TagRunner.lastDocsTagged.get.value == 1L)
    val attrs = spark.read.parquet(s"$dir/attrs")
    assert(attrs.count() == 3)
    assert(attrs.select("id").distinct().count() == 3)
  }

  test("filter syntax=jq: generic jq predicates drive keep/drop end-to-end") {
    val dir = Files.createTempDirectory("graft-main-jq").toString
    Seq(("a", "short text"), ("b", "a considerably longer text body"),
        ("c", "mid-size text"))
      .toDF("id", "content").write.parquet(s"$dir/input")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/input"},
         |  "taggers": ["char_length_v1"],
         |  "experiment": "e",
         |  "filter": {"syntax": "jq", "exclude": [
         |    ".attributes.e__char_length_v1__length[0][-1] > 14"]},
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    val kept = spark.read.parquet(s"$dir/out").select("id").as[String].collect().sorted
    // "b" (31 chars) is excluded; "a" (10) and "c" (13) survive
    assert(kept.toSeq == Seq("a", "c"))
  }

  test("dedupe mode=paragraphs: duplicate spans flow to the mixer scrub") {
    val dir = Files.createTempDirectory("graft-main-para").toString
    import spark.implicits._
    Seq(
      ("a", "unique alpha\nshared paragraph text\nmore alpha"),
      ("b", "shared paragraph text\nunique beta"),
      ("c", "all fresh\nnothing shared")
    ).toDF("id", "content").write.parquet(s"$dir/input")

    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/input"},
         |  "dedupe": {"enabled": true, "mode": "paragraphs",
         |             "attribute_name": "dup_paras"},
         |  "span_replacement": [
         |    {"span": "dup_paras", "min_score": 0.5, "replacement": ""}],
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))

    val out = spark.read.parquet(s"$dir/out")
      .select("id", "content").as[(String, String)].collect().toMap
    // first occurrence (doc a) keeps the paragraph; doc b loses it
    assert(out("a").contains("shared paragraph text"))
    assert(!out("b").contains("shared paragraph text"))
    assert(out("b").contains("unique beta"))
    assert(out("c") == "all fresh\nnothing shared")
  }

  test("input format=table: reads a cataloged/temp-view table; ledger rejected") {
    val dir = Files.createTempDirectory("graft-main-table").toString
    spark.sql("DROP TABLE IF EXISTS graft_out_tbl")
    // a previously-failed run can leave an orphan managed-table location
    val orphan = new java.io.File("spark-warehouse/graft_out_tbl")
    if (orphan.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(orphan)
    }
    Seq(("a", "table-backed alpha row"), ("b", "table-backed beta row"))
      .toDF("id", "content").createOrReplaceTempView("graft_in_tbl")
    val config =
      s"""{
         |  "input": {"format": "table", "path": "graft_in_tbl"},
         |  "taggers": ["char_length_v1"],
         |  "experiment": "e",
         |  "output": {"path": "graft_out_tbl", "format": "table"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    val out = spark.read.table("graft_out_tbl")
    assert(out.select("id").as[String].collect().sorted.toSeq == Seq("a", "b"))
    // snapshot-vs-ledger: file-grain resume must refuse table input
    val withLedger =
      s"""{
         |  "input": {"format": "table", "path": "graft_in_tbl"},
         |  "output": {"path": "$dir/out2", "format": "parquet"},
         |  "ledger": "$dir/ledger"
         |}""".stripMargin
    val err = intercept[IllegalArgumentException] {
      Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(withLedger))
    }
    assert(err.getMessage.contains("snapshot"))
  }

  test("input format=warc: dolma-warc extraction feeds the pipeline, warc attrs drive filters") {
    val dir = Files.createTempDirectory("graft-main-warc").toString
    def rec(uri: String, body: String): Array[Byte] = {
      val html = s"<html><body><p>$body</p></body></html>"
      val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
      val payload = (http + html).getBytes("ISO-8859-1")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:$uri>\r\n" +
        s"WARC-Target-URI: http://$uri/\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
        s"WARC-Payload-Digest: sha1:${uri.toUpperCase.filter(_.isLetterOrDigit)}\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n")
        .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes
    }
    Files.write(java.nio.file.Paths.get(dir, "a.warc"),
      rec("longdoc", "x" * 80) ++ rec("shortdoc", "tiny"))

    val config =
      s"""{
         |  "input": {"format": "warc", "path": "$dir/a.warc",
         |            "source_name": "cc-main",
         |            "post_taggers": ["char_length_v1"]},
         |  "taggers": [],
         |  "filter": {"exclude": [
         |    "$$.attributes.char_length_v1__char_length_v1__length[0][2] > 30"]},
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))

    val out = spark.read.parquet(s"$dir/out")
    val rows = out.collect()
    // the 80-char page is excluded by the warc tagger's attribute; only
    // the short page survives, in full dolma document shape
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("content") == "tiny")
    assert(r.getAs[String]("source") == "cc-main")
    assert(r.getAs[Map[String, String]]("metadata")("url") == "shortdoc")
    assert(r.getAs[String]("provenance").startsWith("a.warc:"))
  }

  test("input format=warc + ledger: resume re-reads only pending archives") {
    val dir = Files.createTempDirectory("graft-warc-resume").toString
    def rec(uri: String, body: String): Array[Byte] = {
      val html = s"<html><body><p>$body</p></body></html>"
      val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
      val payload = (http + html).getBytes("ISO-8859-1")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:$uri>\r\n" +
        s"WARC-Target-URI: http://$uri/\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
        s"WARC-Payload-Digest: sha1:${uri.toUpperCase.filter(_.isLetterOrDigit)}\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n")
        .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes
    }
    Files.createDirectories(java.nio.file.Paths.get(dir, "warcs"))
    Files.write(java.nio.file.Paths.get(dir, "warcs", "a.warc"), rec("alpha", "first doc"))
    def config =
      s"""{
         |  "input": {"format": "warc", "path": "$dir/warcs/*.warc",
         |            "source_name": "cc"},
         |  "output": {"path": "$dir/out", "format": "parquet"},
         |  "ledger": "$dir/ledger"
         |}""".stripMargin
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    Main.run(spark, om.readTree(config))
    assert(spark.read.parquet(s"$dir/out").count() == 1)

    // add a second archive; the resumed run must process ONLY it and
    // append (the completed archive's doc is neither dropped nor doubled)
    Files.write(java.nio.file.Paths.get(dir, "warcs", "b.warc"), rec("beta", "second doc"))
    Main.run(spark, om.readTree(config))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 2)
    assert(out.select("content").as[String].collect().toSet ==
      Set("first doc", "second doc"))

    // a third run with nothing pending changes nothing
    Main.run(spark, om.readTree(config))
    assert(spark.read.parquet(s"$dir/out").count() == 2)
  }

  test("tokens stage: config-driven tokenize -> shards + metadata + dolma layout") {
    val dir = Files.createTempDirectory("graft-main-tok").toString
    graft.sources.CodeDocs.generate(spark, 80L).toDF()
      .withColumn("id", concat_ws(":", col("repo"), col("path"), col("commit")))
      .write.parquet(s"$dir/input")
    // trivial byte vocab with shifted ids: token count of a text == its
    // UTF-8 byte length, so the stage is analytically checkable; eos id
    // 300 is outside the byte range and must appear exactly once per doc
    val vocabPath = s"$dir/vocab.json"
    Files.write(java.nio.file.Paths.get(vocabPath),
      graft.ml.HfTokenizer.trivialByteVocabJson(b => b + 1).getBytes("UTF-8"))
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/input",
         |            "id": "id", "text": "content"},
         |  "taggers": ["char_length_v1"],
         |  "experiment": "e",
         |  "output": {"path": "$dir/out", "format": "parquet"},
         |  "tokens": {"destination": "$dir/tokens",
         |             "tokenizer": {"path": "$vocabPath", "eos_token_id": 300},
         |             "bytes_per_token": 4, "num_shards": 3,
         |             "dolma_layout": true}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))

    val out = spark.read.parquet(s"$dir/out")
    val meta = spark.read.parquet(s"$dir/tokens/metadata")
    assert(meta.count() == out.count())
    // range length = byte length + eos for every doc
    import spark.implicits._
    val byId = out.select(col("id"),
      octet_length(col("content")).cast("long").as("n"))
      .as[(String, Long)].collect().toMap
    meta.select(col("id"), (col("end") - col("start")).as("len"))
      .as[(String, Long)].collect().foreach { case (id, len) =>
        assert(len == byId(id) + 1, id)
      }
    // shard decode: the eos id (outside the shifted byte range) appears
    // exactly once per document in the shard
    val shard = meta.select(col("shard")).head().getString(0)
    val ids = graft.sources.TokenSink.readShard(spark, s"$dir/tokens/shards",
      shard, bytesPerToken = 4)
    assert(ids.count(_ == 300) ==
      meta.filter(col("shard") === shard).count())
    // dolma layout: one .npy + .csv.gz per shard, npy byte-identical
    val stem = shard.stripSuffix(".bin")
    val rawBytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/tokens/shards", shard))
    val npyBytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/tokens/dolma", s"$stem.npy"))
    assert(java.util.Arrays.equals(rawBytes, npyBytes))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/tokens/dolma", s"$stem.csv.gz")))
  }

  test("attributes_input: a later mix-only run joins an earlier tag run's attributes") {
    val dir = Files.createTempDirectory("graft-split").toString
    graft.sources.CodeDocs.generate(spark, 120L).toDF()
      .withColumn("id", concat_ws(":", col("repo"), col("path"), col("commit")))
      .write.parquet(s"$dir/input")

    // run 1: tag only (no output filtering), attributes to parquet
    val tagCfg =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/input",
         |            "id": "id", "text": "content"},
         |  "taggers": ["char_length_v1"],
         |  "experiment": "e",
         |  "output": {"path": "$dir/out1", "format": "parquet"},
         |  "attributes_output": "$dir/attrs"
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(tagCfg))

    // also exercise the dolma-jsonl attribute format round-trip: re-write
    // the same attributes as a jsonl tree under a SECOND experiment name
    val renamed = spark.read.parquet(s"$dir/attrs").select(col("id"),
      org.apache.spark.sql.functions.map_from_entries(
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.map_entries(col("attributes")),
          e => org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit("j__"), e.getField("key")),
            e.getField("value")))).as("attributes"))
    graft.sources.Jsonl.writeAttributes(renamed, s"$dir/attrs_jsonl")

    // run 2: NO taggers — attributes come from run 1's tables; one
    // exclude rule per loaded table proves BOTH joined (the parquet
    // experiment drops long docs, the jsonl one drops short docs);
    // thresholds are the corpus length quartiles so each rule bites
    val lens = spark.read.parquet(s"$dir/input")
      .select(length(col("content"))).as[Int].collect().sorted
    val lo = lens(lens.length / 4)
    val hi = lens(3 * lens.length / 4)
    val mixCfg =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/input",
         |            "id": "id", "text": "content"},
         |  "filter": {"exclude": [
         |    "$$.attributes.e__char_length_v1__length[0][2] > $hi",
         |    "$$.attributes.j__e__char_length_v1__length[0][2] < $lo"]},
         |  "attributes_input": [
         |    "$dir/attrs",
         |    {"path": "$dir/attrs_jsonl", "format": "jsonl"}],
         |  "output": {"path": "$dir/out2", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(mixCfg))

    val input = spark.read.parquet(s"$dir/input")
    val out = spark.read.parquet(s"$dir/out2")
    val l = length(col("content"))
    val expectKept = input.filter(l <= hi && l >= lo).count()
    val droppedLong = input.filter(l > hi).count()
    val droppedShort = input.filter(l < lo).count()
    assert(droppedLong > 0 && droppedShort > 0) // each rule actually bites
    assert(out.count() == expectKept && expectKept > 0)
  }

  test("dedupe mode=bloom: persisted cross-run state drops previously seen docs") {
    val dir = Files.createTempDirectory("graft-bloom").toString
    val all = graft.sources.CodeDocs.generate(spark, 100L).toDF()
      .withColumn("id", concat_ws(":", col("repo"), col("path"), col("commit")))
    all.limit(60).write.parquet(s"$dir/in1")          // run 1: first 60 docs
    all.write.parquet(s"$dir/in2")                    // run 2: all 100 (60 overlap)

    def cfg(in: String, out: String, extra: String) =
      s"""{
         |  "input": {"format": "parquet", "path": "$in", "id": "id", "text": "content"},
         |  "dedupe": {"enabled": true, "mode": "bloom",
         |    "bloom_filter": {"path": "$dir/bloom_state",
         |      "estimated_doc_count": 1000, "shards": 8$extra}},
         |  "filter": {"exclude": ["$$.attributes.bff_duplicate"]},
         |  "output": {"path": "$out", "format": "parquet"}
         |}""".stripMargin
    val om = new com.fasterxml.jackson.databind.ObjectMapper()

    // run 1: empty state -> nothing marked, all 60 kept; state now holds 60 keys
    Main.run(spark, om.readTree(cfg(s"$dir/in1", s"$dir/out1", "")))
    assert(spark.read.parquet(s"$dir/out1").count() == 60)
    assert(graft.dedup.DistributedBloom.loadState(spark, s"$dir/bloom_state").isDefined)

    // run 2 (read_only): the 60 previously-seen docs are marked and dropped
    Main.run(spark, om.readTree(cfg(s"$dir/in2", s"$dir/out2", ""","read_only": true""")))
    val out2 = spark.read.parquet(s"$dir/out2")
    assert(out2.count() == 40)
    // the kept docs are exactly the ones run 1 never saw
    val seen = spark.read.parquet(s"$dir/in1").select("id")
    assert(out2.join(seen, Seq("id"), "left_semi").count() == 0)

    // read_only left the state at one version
    val stateDir = new java.io.File(s"$dir/bloom_state")
    assert(stateDir.listFiles().count(_.getName.startsWith("v")) == 1)

    // run 3 (updating, same input): a second state version appears, sized
    // compatibly and OR-merged
    Main.run(spark, om.readTree(cfg(s"$dir/in2", s"$dir/out3", "")))
    assert(spark.read.parquet(s"$dir/out3").count() == 40)
    assert(stateDir.listFiles().count(_.getName.startsWith("v")) == 2)
    // after run 3's update every doc is in state: a fresh read_only run drops all
    Main.run(spark, om.readTree(cfg(s"$dir/in2", s"$dir/out4", ""","read_only": true""")))
    assert(spark.read.parquet(s"$dir/out4").count() == 0)
  }

  test("dedupe mode=bloom_paragraphs: cross-run paragraph spans scrub previously seen paragraphs") {
    val dir = Files.createTempDirectory("graft-bloom-para").toString
    Seq(("d1", "alpha one\nbeta two")).toDF("id", "content")
      .write.parquet(s"$dir/in1")
    Seq(("d2", "gamma three\nalpha one\ndelta four")).toDF("id", "content")
      .write.parquet(s"$dir/in2")

    def cfg(in: String, out: String, extra: String) =
      s"""{
         |  "input": {"format": "parquet", "path": "$in", "id": "id", "text": "content"},
         |  "dedupe": {"enabled": true, "mode": "bloom_paragraphs",
         |    "bloom_filter": {"path": "$dir/state",
         |      "estimated_doc_count": 1000, "shards": 4$extra}},
         |  "span_replacement": [{"span": "bff_duplicate", "min_score": 0.5,
         |                        "replacement": ""}],
         |  "output": {"path": "$out", "format": "parquet"}
         |}""".stripMargin
    val om = new com.fasterxml.jackson.databind.ObjectMapper()

    // run 1: nothing in state; text passes through untouched
    Main.run(spark, om.readTree(cfg(s"$dir/in1", s"$dir/out1", "")))
    assert(spark.read.parquet(s"$dir/out1").select("content").as[String].head() ==
      "alpha one\nbeta two")

    // run 2: the "alpha one" paragraph was seen in run 1 — its exact span
    // (paragraph + trailing newline) is scrubbed out of the new doc
    Main.run(spark, om.readTree(cfg(s"$dir/in2", s"$dir/out2", ""","read_only": true""")))
    assert(spark.read.parquet(s"$dir/out2").select("content").as[String].head() ==
      "gamma three\ndelta four")
  }

  test("input id/text accept nested dot-paths (test_nested_struct.py parity)") {
    // the reference builds msgspec retrievers for dotted field specs
    // ("a.b" -> unit.a.b, tokenizer/tokenizer.py make_retriever_for_field);
    // here the same config shape binds through Spark struct resolution
    val dir = Files.createTempDirectory("graft-nested").toString
    Seq((1L, "alpha body text", "d1"), (2L, "beta body text", "d2"))
      .toDF("n", "body", "docid")
      .select(struct(col("docid").as("id"), col("n")).as("metadata"),
        struct(col("body").as("text")).as("payload"))
      .write.parquet(s"$dir/in")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/in",
         |            "id": "metadata.id", "text": "payload.text"},
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select("id").as[String].collect().sorted.toSeq == Seq("d1", "d2"))
    assert(out.select("content").as[String].collect().toSet ==
      Set("alpha body text", "beta body text"))
    // the parent structs ride through untouched (extraction, not rename)
    assert(out.columns.contains("metadata") && out.columns.contains("payload"))
  }

  test("output options: discard_fields, compression, max_records_per_file") {
    val dir = Files.createTempDirectory("graft-outopts").toString
    Seq(("a", "one text", "r1"), ("b", "two text", "r2"), ("c", "three text", "r3"))
      .toDF("id", "content", "repo").write.parquet(s"$dir/in")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/in", "id": "id", "text": "content"},
         |  "output": {"path": "$dir/out", "format": "jsonl",
         |             "compression": "none", "max_records_per_file": 1,
         |             "discard_fields": ["repo"]}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(files.length == 3)                         // one record per file
    assert(files.forall(f => !f.getName.endsWith(".gz"))) // uncompressed
    val out = spark.read.json(s"$dir/out")
    assert(!out.columns.contains("repo"))             // user field dropped
    assert(out.count() == 3)
  }

  test("min_text_length trims ALL Unicode whitespace like Rust str::trim") {
    // "short\n" must measure 5 bytes (dropped at 6), not 6: the reference
    // computes data["text"].trim().len() with Rust trim (shard.rs:451)
    val dir = Files.createTempDirectory("graft-trimlen").toString
    Seq(("a", "short\n"), ("b", "longer text\n"), ("c", "\u00A0six\u00A0"))
      .toDF("id", "content").write.parquet(s"$dir/in")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/in", "id": "id", "text": "content"},
         |  "min_text_length": 6,
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    val kept = spark.read.parquet(s"$dir/out").select("id").as[String].collect().toSet
    // a: trim("short\n")="short" -> 5 bytes < 6, dropped.
    // b: 11 bytes, kept. c: NBSP is Unicode whitespace -> "six" 3 bytes,
    // dropped (ASCII-only trim would have measured 3+2*2 bytes = kept)
    assert(kept == Set("b"), kept.toString)
  }

  test("jsonl output is dolma format (text field) and feeds the tokens stage") {
    val dir = Files.createTempDirectory("graft-jsonl-tok").toString
    Seq(("a", "alpha body"), ("b", "beta body text"))
      .toDF("id", "content").write.parquet(s"$dir/in")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/in", "id": "id", "text": "content"},
         |  "output": {"path": "$dir/out", "format": "jsonl", "compression": "none"},
         |  "tokens": {"destination": "$dir/tokens", "vocab_size": 65536}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    // the written documents carry dolma's canonical "text" field, not the
    // pipeline-internal "content"
    val out = spark.read.json(s"$dir/out")
    assert(out.columns.contains("text") && !out.columns.contains("content"))
    assert(out.select("text").as[String].collect().toSet ==
      Set("alpha body", "beta body text"))
    // and the tokens stage read the jsonl output back without error
    val meta = spark.read.parquet(s"$dir/tokens/metadata")
    assert(meta.count() == 2)
    assert(meta.select((col("end") - col("start")).as("n")).as[Long]
      .collect().forall(_ > 0))
  }

  test("warc duplicate payload digests: attribute merge never fans out rows") {
    // byte-identical captures share a payload digest — and therefore a
    // dolma doc id (record_info.py:28). The id-keyed attribute join must
    // not multiply those docs (2 docs x 2 attr rows = 4 was the hazard).
    val dir = Files.createTempDirectory("graft-warc-dup").toString
    def rec(uri: String, body: String, digest: String): Array[Byte] = {
      val html = s"<html><body><p>$body</p></body></html>"
      val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
      val payload = (http + html).getBytes("ISO-8859-1")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:$uri>\r\n" +
        s"WARC-Target-URI: http://$uri/\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
        s"WARC-Payload-Digest: sha1:$digest\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n")
        .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes
    }
    // two identical error pages from different hosts + one distinct page
    Files.write(java.nio.file.Paths.get(dir, "a.warc"),
      rec("hosta.com", "404 not found page", "SAMEDIGEST") ++
        rec("hostb.com", "404 not found page", "SAMEDIGEST") ++
        rec("hostc.com", "a genuinely distinct document", "OTHERDIGEST"))
    val config =
      s"""{
         |  "input": {"format": "warc", "path": "$dir/a.warc"},
         |  "taggers": ["char_length_v1"],
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 3) // NOT 5 (2x2 fan-out + 1)
    assert(out.filter(col("id") === "samedigest").count() == 2)
  }

  test("warc duplicate ids + paragraph dedupe: first copy keeps its text") {
    // dedup spans mark LATER occurrences; with digest-shared ids they must
    // bind per document INSTANCE — an id-keyed merge would scrub the
    // content out of every copy, deleting it from the corpus entirely
    val dir = Files.createTempDirectory("graft-warc-dup-para").toString
    def rec(uri: String, body: String, digest: String): Array[Byte] = {
      val html = s"<html><body><p>$body</p></body></html>"
      val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
      val payload = (http + html).getBytes("ISO-8859-1")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:$uri>\r\n" +
        s"WARC-Target-URI: http://$uri/\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
        s"WARC-Payload-Digest: sha1:$digest\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n")
        .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes
    }
    Files.write(java.nio.file.Paths.get(dir, "a.warc"),
      rec("hosta.com", "the shared boilerplate paragraph", "DUPPAR") ++
        rec("hostb.com", "the shared boilerplate paragraph", "DUPPAR"))
    val config =
      s"""{
         |  "input": {"format": "warc", "path": "$dir/a.warc"},
         |  "dedupe": {"enabled": true, "mode": "paragraphs",
         |             "attribute_name": "dup_paras"},
         |  "span_replacement": [
         |    {"span": "dup_paras", "min_score": 0.5, "replacement": ""}],
         |  "min_text_length": 0,
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    val texts = spark.read.parquet(s"$dir/out")
      .select("content").as[String].collect().toSeq
    // exactly ONE copy retains the paragraph (the first occurrence); the
    // other is scrubbed — not both kept, and crucially not both scrubbed
    assert(texts.count(_.contains("shared boilerplate")) == 1, texts.toString)
  }

  test("bloom state commits last: a failing later stage cannot poison it") {
    val dir = Files.createTempDirectory("graft-bloom-order").toString
    Seq(("d1", "alpha text one"), ("d2", "beta text two"))
      .toDF("id", "content").write.parquet(s"$dir/in")
    def config(tokens: String) =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/in", "id": "id", "text": "content"},
         |  "dedupe": {"enabled": true, "mode": "bloom",
         |             "bloom_filter": {"path": "$dir/state",
         |               "estimated_doc_count": 100}},
         |  "filter": {"exclude": ["$$.attributes.bff_duplicate[0][2] > 0.5"]},
         |  "output": {"path": "$dir/out", "format": "parquet"}$tokens
         |}""".stripMargin
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // stage AFTER the output write fails (bad tokenizer path): the bloom
    // state must stay untouched or the retry would see its own keys as
    // members and drop the whole batch
    intercept[Exception] {
      Main.run(spark, om.readTree(config(
        s""", "tokens": {"destination": "$dir/tok",
           |             "tokenizer": {"path": "$dir/missing.json"}}""".stripMargin)))
    }
    val stateDir = new java.io.File(s"$dir/state")
    assert(!stateDir.exists() || stateDir.listFiles().isEmpty,
      "bloom state must not commit when a later stage fails")
    // retry without the broken stage: nothing marked duplicate
    Main.run(spark, om.readTree(config("")))
    assert(spark.read.parquet(s"$dir/out").count() == 2)
  }

  test("dedupe enabled=false with a bloom mode is inert, not a crash") {
    val dir = Files.createTempDirectory("graft-bloom-off").toString
    Seq(("d1", "some text")).toDF("id", "content").write.parquet(s"$dir/in")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/in", "id": "id", "text": "content"},
         |  "dedupe": {"enabled": false, "mode": "bloom"},
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    assert(spark.read.parquet(s"$dir/out").count() == 1)
  }

  test("analyze over in-flight attributes runs the tagger battery once") {
    CountingTagger.calls.set(0)
    val dir = Files.createTempDirectory("graft-analyze-once").toString
    Seq(("a", "first doc"), ("b", "second doc"), ("c", "third doc"))
      .toDF("id", "content").write.parquet(s"$dir/in")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/in", "id": "id", "text": "content"},
         |  "tagger_modules": ["graft.CountingTaggerModule"],
         |  "taggers": ["counting_v1"],
         |  "analyze": {"enabled": true, "report": "$dir/report.txt"},
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))
    assert(spark.read.parquet(s"$dir/out").count() == 3)
    // the analyze aggregate rides the output write (Dataset.observe), so
    // the battery evaluates once, inside that write (a separate analyze
    // job would make it 6 calls)
    assert(CountingTagger.calls.get() == 3,
      s"battery ran ${CountingTagger.calls.get()} predicts for 3 docs")
  }

  test("bloom config errors are loud: missing bloom_filter block, unknown key") {
    val dir = Files.createTempDirectory("graft-bloom-err").toString
    Seq(("d1", "text")).toDF("id", "content").write.parquet(s"$dir/in")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def run(dedupe: String) = Main.run(spark, om.readTree(
      s"""{"input": {"format": "parquet", "path": "$dir/in", "id": "id", "text": "content"},
         | "dedupe": $dedupe,
         | "output": {"path": "$dir/out", "format": "parquet"}}""".stripMargin))
    val e1 = intercept[IllegalArgumentException] {
      run("""{"enabled": true, "mode": "bloom"}""")
    }
    assert(e1.getMessage.contains("bloom_filter"))
    val e2 = intercept[RuntimeException] {
      run(s"""{"enabled": true, "mode": "bloom",
             | "bloom_filter": {"path": "$dir/state", "key": "url"}}""".stripMargin)
    }
    assert(e2.getMessage.contains("unknown bloom_filter key"))
  }

  test("analyze stage: score/length summaries + rendered report (dolma analyze)") {
    val dir = Files.createTempDirectory("graft-analyze").toString
    graft.sources.CodeDocs.generate(spark, 80L).toDF()
      .withColumn("id", concat_ws(":", col("repo"), col("path"), col("commit")))
      .write.parquet(s"$dir/input")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/input",
         |            "id": "id", "text": "content"},
         |  "taggers": ["char_length_v1", "gopher_v2"],
         |  "experiment": "e",
         |  "analyze": {"bins": 100, "viz_bins": 5, "total": true,
         |    "regex": "char_length|word_count",
         |    "summaries_output": "$dir/summaries",
         |    "report": "$dir/report.txt"},
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, new com.fasterxml.jackson.databind.ObjectMapper().readTree(config))

    val sums = spark.read.parquet(s"$dir/summaries")
    val names = sums.select("name").as[String].collect().toSet
    // regex filtered: char_length + gopher word_count families only,
    // each with /score and /length variants
    assert(names.contains("e__char_length_v1__length/score"))
    assert(names.contains("e__char_length_v1__length/length"))
    assert(names.exists(_.matches("e__gopher_v2__.*word_count.*/score")))
    assert(!names.exists(_.contains("symbol_to_word_ratio")))
    // every doc contributed one char_length span
    val row = sums.filter(col("name") === "e__char_length_v1__length/score").head()
    assert(row.getAs[Long]("total") == 80L)
    // the /score tracker saw the code-point lengths (scores == lengths
    // for this tagger), so the sum is the corpus char total
    val expectSum = spark.read.parquet(s"$dir/input")
      .select(sum(length(col("content")))).head().getLong(0)
    assert(row.getAs[Double]("sum").toLong == expectSum)
    val report = new String(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/report.txt")), "UTF-8")
    assert(report.contains("e__char_length_v1__length/score"))
    assert(report.contains("count")) // table header rendered
  }

  private def om = new com.fasterxml.jackson.databind.ObjectMapper()

  private def codeInput(dir: String, n: Long): String = {
    val p = s"$dir/in"
    graft.sources.CodeDocs.generate(spark, n).toDF()
      .withColumn("id", concat_ws(":", col("repo"), col("path"), col("commit")))
      .write.parquet(p)
    p
  }

  private def summaries(path: String): Map[String, org.apache.spark.sql.Row] =
    spark.read.parquet(path).collect().map(r => r.getAs[String]("name") -> r).toMap

  test("analyze: in-flight summaries equal the file-backed ones over the same attributes") {
    val dir = Files.createTempDirectory("graft-analyze-eq").toString
    val in = codeInput(dir, 600L)
    def config(out: String, extra: String) =
      s"""{
         |  "input": {"format": "parquet", "path": "$in", "id": "id", "text": "content"},
         |  "taggers": ["gopher_v2", "pii_regex_with_counts_fast_v2", "char_length_v1"],
         |  "experiment": "e",
         |  "dedupe": {"enabled": true, "mode": "documents"},
         |  "output": {"path": "$dir/$out", "format": "parquet"},
         |  $extra
         |}""".stripMargin
    Main.run(spark, om.readTree(config("out1",
      s""""analyze": {"bins": 50, "summaries_output": "$dir/s1", "report": "$dir/r1.txt"}""")))
    Main.run(spark, om.readTree(config("out2",
      s""""attributes_output": "$dir/attrs",
         | "analyze": {"bins": 50, "attributes": ["$dir/attrs"],
         |   "summaries_output": "$dir/s2", "report": "$dir/r2.txt"}""".stripMargin)))
    val inFlight = summaries(s"$dir/s1")
    val fromFiles = summaries(s"$dir/s2")
    assert(inFlight.nonEmpty)
    assert(inFlight.keySet == fromFiles.keySet)
    inFlight.foreach { case (name, a) =>
      val b = fromFiles(name)
      for (f <- Seq("bins", "counts", "total"))
        assert(a.getAs[Any](f) == b.getAs[Any](f), s"$name: $f differs")
      // summation order differs between the two sources
      val (sa, sb) = (a.getAs[Double]("sum"), b.getAs[Double]("sum"))
      assert(math.abs(sa - sb) <= 1e-9 * math.max(math.abs(sa), math.abs(sb)),
        s"$name: sum $sa vs $sb")
    }
  }

  test("single evaluation: one executed plan scans the input, nothing stays persisted") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    val dir = Files.createTempDirectory("graft-one-eval").toString
    val in = codeInput(dir, 300L)
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$in", "id": "id", "text": "content"},
         |  "taggers": ["gopher_v2", "pii_regex_with_counts_fast_v2"],
         |  "experiment": "e",
         |  "dedupe": {"enabled": true, "mode": "documents"},
         |  "analyze": {"bins": 20, "summaries_output": "$dir/summaries",
         |    "report": "$dir/report.txt"},
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    object Scans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      def roots(plan: SparkPlan): Seq[String] = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
      }.flatten
    }
    val scanning = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "__graft_marker")) marker.countDown()
        else if (Scans.roots(qe.executedPlan).exists(_.endsWith(in))) scanning.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    spark.listenerManager.register(listener)
    try {
      Main.run(spark, om.readTree(config))
      // listener events arrive in order: once the marker query is seen,
      // every plan of the run has been reported
      spark.range(1).toDF("__graft_marker").collect()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)

    assert(scanning.size == 1, s"plans scanning the input: $scanning")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore).isEmpty,
      "the run left persisted (localCheckpoint) blocks behind")
    assert(graft.operators.TagRunner.lastDocsTagged.get.value == 300L)
    assert(spark.read.parquet(s"$dir/summaries").count() > 0)
  }

  test("analyze over an empty input completes and writes zero summary rows") {
    val dir = Files.createTempDirectory("graft-analyze-empty").toString
    Seq.empty[(String, String)].toDF("id", "content").write.parquet(s"$dir/in")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/in", "id": "id", "text": "content"},
         |  "taggers": ["char_length_v1"],
         |  "dedupe": {"enabled": true, "mode": "documents"},
         |  "analyze": {"summaries_output": "$dir/summaries", "report": "$dir/report.txt"},
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    import scala.concurrent.ExecutionContext.Implicits.global
    // an observation that never completes would block Main.run forever
    scala.concurrent.Await.result(
      scala.concurrent.Future(Main.run(spark, om.readTree(config))),
      scala.concurrent.duration.Duration(120, "s"))
    assert(spark.read.parquet(s"$dir/out").count() == 0)
    assert(spark.read.parquet(s"$dir/summaries").count() == 0)
  }

  test("attribute merge order: loaded tables < in-place taggers < dedup spans") {
    val dir = Files.createTempDirectory("graft-merge-order").toString
    Seq(("a", "shared para\nalpha"), ("b", "shared para\nbeta"))
      .toDF("id", "content").write.parquet(s"$dir/in")
    val lengthKey = "e__char_length_v1__length"
    val stripKey = "e__char_length_strip_ws_v1__length_no_ws"
    Seq("a", "b").map(id => graft.core.AttrRow(id, Map(
        lengthKey -> Seq(graft.core.SpanTriple(0, 1, 999.0)),
        "e__loaded_only" -> Seq(graft.core.SpanTriple(0, 1, 5.0)))))
      .toDS().write.parquet(s"$dir/loaded")
    val config =
      s"""{
         |  "input": {"format": "parquet", "path": "$dir/in", "id": "id", "text": "content"},
         |  "taggers": ["char_length_v1", "char_length_strip_ws_v1"],
         |  "experiment": "e",
         |  "attributes_input": ["$dir/loaded"],
         |  "dedupe": {"enabled": true, "mode": "paragraphs", "attribute_name": "$stripKey"},
         |  "analyze": {"summaries_output": "$dir/summaries", "report": "$dir/report.txt"},
         |  "output": {"path": "$dir/out", "format": "parquet"}
         |}""".stripMargin
    Main.run(spark, om.readTree(config))
    val sums = summaries(s"$dir/summaries").map { case (n, r) => n -> r.getAs[Double]("sum") }
    assert(sums(s"$lengthKey/score") == 33.0)   // the tagger won over the loaded 999s
    assert(sums("e__loaded_only/score") == 10.0) // loaded-only keys survive
    // the dedup spans won over the tagger: doc b's repeated paragraph
    // (score 1.0) plus doc a's empty list counted as one 0.0 triple
    assert(sums(s"$stripKey/score") == 1.0)
  }

  test("an unknown top-level config key fails before any Spark job") {
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, om.readTree(
        """{"input": {"format": "parquet", "path": "/nonexistent/graft-in"},
          | "taggerz": ["gopher_v2"],
          | "output": {"path": "/nonexistent/graft-out"}}""".stripMargin))
    }
    assert(e.getMessage.contains("\"taggerz\""))
    Seq("input", "taggers", "tagger_modules", "experiment", "dedupe", "filter",
      "span_replacement", "min_text_length", "output", "tokens", "analyze",
      "attributes_output", "attributes_input", "metrics_output", "ledger")
      .foreach(k => assert(e.getMessage.contains(k)))

    // a misspelt key inside a block fails the same way: the message names
    // the key path and the valid keys of that block
    def typo(blocks: String) = intercept[IllegalArgumentException] {
      Main.run(spark, om.readTree(
        s"""{"input": {"format": "parquet", "path": "/nonexistent/graft-in"}, $blocks}"""))
    }.getMessage
    val out = """"output": {"path": "/nonexistent/graft-out"}"""
    val nested = Seq(
      s"""$out, "dedupe": {"mdoe": "paragraphs"}""" -> ("dedupe.mdoe", Seq("mode", "ngram")),
      """"output": {"path": "/nonexistent/graft-out", "compresion": "gzip"}""" ->
        ("output.compresion", Seq("compression", "max_records_per_file")),
      s"""$out, "analyze": {"binz": 10}""" -> ("analyze.binz", Seq("bins", "viz_bins")),
      s"""$out, "tokens": {"destination": "/nonexistent/t", "tokenizer": {"eos_tokenid": 2}}""" ->
        ("tokens.tokenizer.eos_tokenid", Seq("eos_token_id", "bos_token_id")),
      s"""$out, "dedupe": {"mode": "bloom",
         |  "bloom_filter": {"path": "/nonexistent/b", "shard": 8}}""".stripMargin ->
        ("dedupe.bloom_filter.shard", Seq("shards", "estimated_doc_count")))
    for ((blocks, (path, valid)) <- nested) {
      val msg = typo(blocks)
      assert(msg.contains(s"\"$path\""), msg)
      valid.foreach(k => assert(msg.contains(k), msg))
    }

    // every streams entry is parsed before the first stream runs
    val streams = intercept[IllegalArgumentException] {
      graft.config.PipelineConfig.parseAll(om.readTree(
        """{"streams": [
          |  {"input": {"path": "/nonexistent/a"}, "output": {"path": "/nonexistent/b"}},
          |  {"input": {"path": "/nonexistent/a"}, "output": {"path": "/nonexistent/b"},
          |   "dedupe": {"mdoe": "paragraphs"}}]}""".stripMargin))
    }
    assert(streams.getMessage.contains("\"streams[1].dedupe.mdoe\""), streams.getMessage)
  }

  test("an unknown format or dedupe mode fails at parse time, listing the valid values") {
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, om.readTree(
        """{"input": {"format": "jsnol", "path": "/nonexistent/graft-in"},
          | "output": {"path": "/nonexistent/graft-out"}}""".stripMargin))
    }
    assert(e.getMessage.contains("input.format") && e.getMessage.contains("jsonl"), e.getMessage)
    val mode = intercept[IllegalArgumentException] {
      Main.run(spark, om.readTree(
        """{"input": {"path": "/nonexistent/graft-in"}, "dedupe": {"mode": "paragraph"},
          | "output": {"path": "/nonexistent/graft-out"}}""".stripMargin))
    }
    assert(mode.getMessage.contains("paragraphs") && mode.getMessage.contains("bloom_paragraphs"),
      mode.getMessage)
  }

  test("a config of only input and output parses to the documented defaults") {
    import graft.config._
    val c = PipelineConfig.parse(om.readTree(
      """{"input": {"path": "in"}, "output": {"path": "out"}}"""))
    assert(c == PipelineConfig(input = Input("in"), output = Output("out")))
    assert(c.experiment == "exp" && c.minTextLength == 0)
    assert(c.input.format == Format.Parquet && c.input.id == "id" && c.input.text == "content")
    assert(c.output.format == Format.Parquet)
    assert(c.dedupe.isEmpty && c.analyze.isEmpty && c.tokens.isEmpty)
    // the blocks' own defaults, once the block is present
    val b = PipelineConfig.parse(om.readTree(
      """{"input": {"path": "in"}, "output": {"path": "out"},
        | "dedupe": {"bloom_filter": {"path": "state"}}, "analyze": {},
        | "tokens": {"destination": "tok", "tokenizer": {}}}""".stripMargin))
    val d = b.dedupe.get
    assert(d.enabled && d.mode == "documents" && d.attributeName == "duplicate_paragraphs")
    assert(d.ngram == Ngram(8, 0, 0.7))
    val bf = d.bloomFilter.get
    assert(bf.shards == 64 && bf.estimatedDocCount == 1000000L &&
      bf.desiredFalsePositiveRate == 1e-4 && bf.key == "content_sha" && !bf.readOnly)
    val a = b.analyze.get
    assert(a.enabled && a.bins == 1000 && a.vizBins == 10 && a.regex.isEmpty && !a.total)
    val t = b.tokens.get
    assert(t.enabled && t.bytesPerToken == 2 && t.targetTokensPerShard == 512L * 1024 * 1024 &&
      t.vocabSize == 65536 && t.numShards == 0 && t.minShardSizeBytes == 0L)
    assert(t.tokenizer.get == Tokenizer(None, None, None, segmentBeforeTokenization = false))
    // an explicit null is the default, not the text "null" or 0
    val n = PipelineConfig.parse(om.readTree(
      """{"input": {"path": "in"}, "output": {"path": "out"},
        | "analyze": {"regex": null, "bins": null}}""".stripMargin))
    assert(n.analyze.get.regex.isEmpty && n.analyze.get.bins == 1000)
  }

  test("analyze with \"regex\": null summarises the same names as no regex") {
    val dir = Files.createTempDirectory("graft-analyze-null").toString
    Seq(("a", "first doc"), ("b", "second doc")).toDF("id", "content").write.parquet(s"$dir/in")
    def names(regex: String): Set[String] = {
      val sub = java.util.UUID.randomUUID().toString
      Main.run(spark, om.readTree(
        s"""{"input": {"format": "parquet", "path": "$dir/in"},
           | "taggers": ["char_length_v1"],
           | "analyze": {"bins": 10, $regex "summaries_output": "$dir/$sub/s",
           |   "report": "$dir/$sub/r.txt"},
           | "output": {"path": "$dir/$sub/out", "format": "parquet"}}""".stripMargin))
      summaries(s"$dir/$sub/s").keySet
    }
    val all = names("")
    assert(all.nonEmpty)
    assert(names(""""regex": null,""") == all)
  }
}

/** Counts predict() invocations so MainSpec can assert the battery ran
  * exactly once per document (local[*] shares the JVM with the driver). */
object CountingTagger {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

class CountingTaggerModule extends graft.taggers.TaggerModule {
  def register(): Unit =
    graft.taggers.TaggerRegistry.register("counting_v1")(new graft.taggers.Tagger {
      def name: String = "counting_v1"
      def predict(text: String, meta: Map[String, String]): Vector[graft.core.Span] = {
        CountingTagger.calls.incrementAndGet()
        Vector(graft.core.Span(0, text.length.toLong, "len", text.length.toDouble))
      }
    })
}
