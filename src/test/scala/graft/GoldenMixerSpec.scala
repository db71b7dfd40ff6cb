package graft

import graft.functions.SpanScrubber
import graft.mixer.{Mixer, PredicateCompiler}
import graft.sources.Jsonl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Golden end-to-end parity against the reference's OWN test fixtures:
  * inputs from /root/reference/tests/data/provided, expected outputs from
  * /root/reference/tests/data/expected (the frozen outputs dolma's
  * test_mixer.py asserts against). Passing these means keep/drop F1 = 1.0
  * and scrubbed-text exact equality on the reference's data — the north
  * rule's correctness surface.
  */
class GoldenMixerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = "/root/reference/tests/data"
  /** The fixture at `rel` under [[base]]; cancels the test when it is
    * absent (the golden comparison is then unverified, not passed). */
  private def fixture(rel: String): String = {
    val p = s"$base/$rel"
    assume(Files.exists(Paths.get(p)), s"$p absent: golden comparison unverified")
    p
  }

  private lazy val docs = spark.read.json(fixture("provided/documents/000.json.gz")).cache()

  private def idText(df: DataFrame, textCol: String = "text"): Map[String, String] =
    df.select(col("id"), col(textCol)).as[(String, String)].collect().toMap

  private def expected(name: String): Map[String, String] =
    idText(spark.read.json(fixture(s"expected/$name.json.gz")))

  test("golden mixer.json: keep/drop over metadata + pii + toxicity attributes") {
    val pii = spark.read.json(fixture("provided/attributes/pii/000.json.gz"))
      .select(col("id"), col("attributes.pii.too_much_pii").as("too_much_pii"))
    val tox = spark.read.json(fixture("provided/attributes/toxicity/000.json.gz"))
      .select(col("id"), col("attributes.toxicity").as("toxicity"))
    val joined = docs.join(pii, Seq("id"), "left").join(tox, Seq("id"), "left")
    val cfg = Mixer.MixerConfig(
      include = Seq(col("metadata.length") < 10000),
      exclude = Seq(
        col("metadata.length") < 500,
        col("too_much_pii") === true,
        col("toxicity") > 0.8))
    val kept = joined.filter(Mixer.keepPredicate(cfg))
    assert(idText(kept) == expected("mixer"))
  }

  test("golden email-spans.json: {} template scrub + company_name removal") {
    val pii = spark.read.json(fixture("provided/attributes/pii/000.json.gz"))
      .select(col("id"),
        col("attributes.pii.email").as("email"),
        col("attributes.pii.company_name").as("company_name"))
    val joined = docs.join(pii, Seq("id"), "left")
    def rules(c: String, tmpl: String) =
      filter(coalesce(col(c), array()), s => s.getItem(2) >= 0.5)
    val reps = concat(
      transform(rules("email", ""), s => struct(
        s.getItem(0).cast("long").as("start"), s.getItem(1).cast("long").as("end"),
        lit("[B-EMAIL]{}[E-EMAIL]").as("template"))),
      transform(rules("company_name", ""), s => struct(
        s.getItem(0).cast("long").as("start"), s.getItem(1).cast("long").as("end"),
        lit("").as("template"))))
    val out = joined.withColumn("scrubbed", SpanScrubber.scrubSpans(col("text"), reps))
    assert(idText(out, "scrubbed") == expected("email-spans"))
  }

  test("golden paragraph-spans: duplicate paragraph removal") {
    val dup = spark.read.json(fixture("provided/attributes/duplicate_paragraphs/000.json.gz"))
      .select(col("id"), col("attributes.bff_duplicate_paragraph_spans").as("spans"))
    val joined = docs.join(dup, Seq("id"), "left")
    val reps = transform(
      filter(coalesce(col("spans"), array()), s => s.getItem(2) >= 0.5),
      s => struct(s.getItem(0).cast("long").as("start"),
        s.getItem(1).cast("long").as("end"), lit("").as("template")))
    val out = joined.withColumn("scrubbed", SpanScrubber.scrubSpans(col("text"), reps))
    assert(idText(out, "scrubbed") == expected("remove-paragraphs"))
  }

  test("golden filter-by-spans: predicate compiler over flat attribute file") {
    val attrs = Jsonl.readAttributes(spark, fixture("provided/attributes/sample/000.json.gz"))
    val merged = Mixer.mergeAttributes(docs, Seq(attrs))
    val kept = merged.filter(PredicateCompiler.keep(
      include = Seq("$.attributes.sample__random_number_v1__random[0][2] < 0.5"),
      exclude = Seq(
        "$.attributes.dummy && $.attributes.dummy[0] && $.attributes.dummy[0][2] > 0.5")))
    assert(idText(kept) == expected("filter-by-spans"))
  }

  test("golden email-spans-jq.yaml: jq span selectors reproduce the frozen scrub") {
    // config tests/config/email-spans-jq.yaml: syntax=jq selectors
    // `.attributes?.pii?.email?` / `.attributes?.pii?.company_name?`,
    // both rules min_score 0.5, max_score 0.9; expected output frozen in
    // tests/data/expected/email-spans-jq.json.gz
    import graft.mixer.Jq
    val emailSel = new Jq.Selector(".attributes?.pii?.email?")
    val companySel = new Jq.Selector(".attributes?.pii?.company_name?")
    val piiById = spark.read.text(fixture("provided/attributes/pii/000.json.gz"))
      .as[String].collect().map { line =>
        val doc = Jq.parseJson(line)
        val id = doc.asInstanceOf[Jq.JObj].fields("id").asInstanceOf[Jq.JStr].s
        id -> doc
      }.toMap
    val scrubbed = docs.select(col("id"), col("text")).as[(String, String)]
      .collect().map { case (id, text) =>
        val attrDoc = piiById(id)
        def reps(sel: Jq.Selector, tmpl: String) =
          sel.selectSpans(attrDoc)
            .filter { case (_, _, sc) => sc >= 0.5 && sc < 0.9 }
            .map { case (s, e, _) => SpanScrubber.Replacement(s, e, tmpl) }
        val all = reps(emailSel, "[B-EMAIL]{}[E-EMAIL]") ++ reps(companySel, "")
        id -> SpanScrubber.scrub(text, all)
      }.toMap
    assert(scrubbed == expected("email-spans-jq"))
  }
}
