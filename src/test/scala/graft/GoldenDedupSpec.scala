package graft

import graft.dedup.ReferenceDedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Deduper golden parity: inputs from
  * /root/reference/tests/data/provided/deduper, expected span attributes
  * from /root/reference/tests/data/expected/dedupe-*.json.gz (what dolma's
  * test_deduper.py asserts against). */
class GoldenDedupSpec extends AnyFunSuite {
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

  private lazy val docs = spark.read
    .json(fixture("provided/deduper/documents/000.json.gz"))
    .withColumn("ord", monotonically_increasing_id())
    .cache()

  /** id → span list, scores rounded to float precision for f32 parity. */
  private def spanMap(df: DataFrame, spansCol: String): Map[String, Seq[(Long, Long, Double)]] =
    df.select(col("id"), col(spansCol)).as[(String, Seq[(Long, Long, Double)])]
      .collect().toMap
      .view.mapValues(_.map(t => (t._1, t._2, math.rint(t._3 * 1e6) / 1e6))).toMap

  private def expected(name: String, attr: String): Map[String, Seq[(Long, Long, Double)]] = {
    val df = spark.read.json(fixture(s"expected/$name.json.gz"))
      .select(col("id"),
        coalesce(col(s"attributes.$attr"), array().cast("array<array<double>>")).as("spans"))
    df.as[(String, Seq[Seq[Double]])].collect().toMap
      .view.mapValues(_.map(s =>
        (s(0).toLong, s(1).toLong, math.rint(s(2) * 1e6) / 1e6))).toMap
  }

  test("golden dedupe-by-url: duplicate url docs marked with key-length span") {
    val out = ReferenceDedup.docDupSpans(docs, col("id"), col("metadata.url"), col("ord"))
    assert(spanMap(out, "spans") == expected("dedupe-by-url", "bff_duplicate_url"))
  }

  test("golden dedupe-paragraphs: re-seen paragraphs marked") {
    val out = ReferenceDedup.paragraphDupSpans(docs, col("id"), col("text"), col("ord"))
    assert(spanMap(out, "spans") ==
      expected("dedupe-paragraphs", "bff_duplicate_paragraph_spans"))
  }

  test("golden dedupe-paragraph-ngrams: overlap fractions match") {
    val out = ReferenceDedup.ngramDupSpans(docs, col("id"), col("text"), col("ord"),
      ngramLength = 6, stride = 3, overlapThreshold = 0.5)
    val got = spanMap(out, "spans")
    val exp = expected("dedupe-paragraph-ngrams", "bff_duplicate_paragraph_spans")
    // The reference's own comparison (test_deduper.py:257-264) zips span
    // lists, so extras beyond the expected list are not checked — and the
    // vendored fixture predates the current `>=` threshold comparison
    // (deduper.rs:457): paragraphs at overlap EXACTLY 0.5 are emitted by
    // the snapshot code but absent from the fixture. We mirror the
    // reference test's zip semantics and additionally allow got-extras
    // only at exactly the threshold boundary.
    assert(got.keySet == exp.keySet)
    got.foreach { case (id, gotSpans) =>
      val expSpans = exp(id)
      expSpans.zip(gotSpans).foreach { case (e, g) => assert(e == g, s"id=$id") }
      val extras = gotSpans.drop(expSpans.length)
      assert(extras.forall(_._3 == 0.5), s"unexpected non-boundary extras for $id: $extras")
    }
    // the fractional-overlap fingerprint (33 of 38 selected 6-grams)
    assert(got("http://eattoyourmeter.org/cancerous-diseases/") ==
      Seq((3207L, 3907L, 0.868421)))
  }
}
