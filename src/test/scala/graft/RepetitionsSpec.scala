package graft

import graft.taggers.RepetitionTaggers
import graft.taggers.RepetitionTaggers.{endFirstConsecutiveTrue, findPeriodicSequences, startLastConsecutiveTrue}

import org.scalatest.funsuite.AnyFunSuite

/** Vectors transcribed from
  * /root/reference/tests/python/test_repetitions_utils.py and
  * test_repetitions.py. */
class RepetitionsSpec extends AnyFunSuite {

  private def arr(s: String): Array[Int] = s.map(_ - '0').toArray

  test("find_end_first_consecutive_true vectors") {
    assert(endFirstConsecutiveTrue(Array(true, true, false, true)) == 2)
    assert(endFirstConsecutiveTrue(Array(false, true)) == 0)
    assert(endFirstConsecutiveTrue(Array(true, false)) == 1)
    assert(endFirstConsecutiveTrue(Array(true)) == 1)
    assert(endFirstConsecutiveTrue(Array(false)) == 0)
  }

  test("find_start_last_consecutive_true vectors") {
    assert(startLastConsecutiveTrue(Array(false, false, true, true)) == 2)
    assert(startLastConsecutiveTrue(Array(true, false, false, true)) == 3)
    assert(startLastConsecutiveTrue(Array(true, true, true, true)) == 0)
    assert(startLastConsecutiveTrue(Array(false, false, false, false)) == -1)
    assert(startLastConsecutiveTrue(Array(true, true, true, false)) == -1)
  }

  test("periodic sequences: 0 repeated 5 times in 5000007") {
    val seqs = findPeriodicSequences(arr("5000007"), maxPeriod = 1)
    assert(seqs == Vector(RepetitionTaggers.Periodic(1, 6, 1, 5)))
  }

  test("periodic sequences: 01 x3 in 501010127") {
    val seqs = findPeriodicSequences(arr("501010127"), maxPeriod = 2, minPeriod = 2)
    assert(seqs == Vector(RepetitionTaggers.Periodic(1, 7, 2, 3)))
  }

  test("periodic sequences: 0104 x3 in 5301040104010401") {
    val seqs = findPeriodicSequences(arr("5301040104010401"), maxPeriod = 4, minPeriod = 4)
    assert(seqs == Vector(RepetitionTaggers.Periodic(2, 16, 4, 3)))
  }

  test("periodic sequences: 040 x4 in 04004004004030") {
    val seqs = findPeriodicSequences(arr("04004004004030"), maxPeriod = 3, minPeriod = 3)
    assert(seqs == Vector(RepetitionTaggers.Periodic(0, 12, 3, 4)))
  }

  test("periodic sequences: two repetitions (46 x4, 550 x3)") {
    val seqs = findPeriodicSequences(arr("004646464639955055055046550"),
      maxPeriod = 3, minPeriod = 2)
    assert(seqs.toSet == Set(
      RepetitionTaggers.Periodic(2, 10, 2, 4),
      RepetitionTaggers.Periodic(13, 22, 3, 3)))
  }

  test("no periodic sequences in 123456789") {
    assert(findPeriodicSequences(arr("123456789"), maxPeriod = 3).isEmpty)
  }

  test("periodic sequences: 405 reference-generated ground-truth cases") {
    // generated by RUNNING the reference find_periodic_sequences
    // (utils.py:40-118) over the wrap-bug counterexamples ([1,2,1,2] must
    // emit NOTHING; [7,7,7] is 3 times not 4) plus 400 seeded random
    // arrays — the np.pad full-mask-row subtlety a hand-picked vector set
    // missed (12% of random arrays diverged before the fix)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(
      getClass.getResourceAsStream("/periodic_truth.json"))
    var checked = 0
    root.elements().forEachRemaining { c =>
      import scala.jdk.CollectionConverters._
      val a = c.get("arr").elements().asScala.map(_.asInt()).toArray
      val want = c.get("seqs").elements().asScala.map { s =>
        RepetitionTaggers.Periodic(s.get(0).asInt(), s.get(1).asInt(),
          s.get(2).asInt(), s.get(3).asInt())
      }.toVector
      val got = findPeriodicSequences(a, maxPeriod = 10)
      assert(got == want, s"arr=${a.mkString(",")} got=$got want=$want")
      checked += 1
    }
    assert(checked == 405)
  }

  test("char repetitions tagger (test_repetitions.py:12-88)") {
    val doc = "\nThis is a text with repetitions.\nThis is a text with repetitions repetitions.\n" +
      "This is a text with repetitions repetitions repetitions.\n" +
      "This is a text with repetitions repetitions repetitions repetitions.\n\n" +
      "blah blah blah blah blah\n\n" +
      "No reps at the beginning of this sentence but MMMMMMMMMM\n\n" +
      "Seeing doubles: bass banana bass banana bass banana bass banana\n"
    val t = new RepetitionTaggers.CharRepetitionsTagger
    val spans = t.predict(doc)
    assert(spans.length == 7)
    val reps = spans.filter(_.typ == "repetition")
    def slice(i: Int) = graft.core.CodePoints.slice(doc, reps(i).start.toInt, reps(i).end.toInt)
    assert(slice(0) == " repetitions repetitions repetitions repetitions")
    assert(reps(0).score == 4.0)
    assert(slice(1) == "blah blah blah blah blah")
    assert(reps(1).score == 5.0)
    assert(slice(2) == "MMMMMMMMMM")
    assert(reps(2).score == 10.0)
    assert(slice(3) == " bass banana bass banana bass banana bass banana")
    assert(reps(3).score == 4.0)
    assert(spans.find(_.typ == "doc_max_score_repetition").get.score == 10.0)
    assert(spans.find(_.typ == "doc_max_length_repetition").get.score == 48.0)
    val matchesLen = 48 + 24 + 10 + 48
    assert(spans.find(_.typ == "doc_frac_repetition").get.score ==
      matchesLen.toDouble / doc.length)
  }

  test("token repetitions find planted periodic run, none in clean text") {
    val t = new RepetitionTaggers.TokenRepetitionsTagger()
    val withReps = "start foo bar foo bar foo bar foo bar end"
    val spans = t.predict(withReps)
    assert(spans.exists(_.typ == "repetition"))
    assert(t.predict("all words here are completely different tokens").isEmpty)
  }

  private val DocWithReps =
    "\nThis is a text with repetitions.\nThis is a text with repetitions repetitions.\n" +
      "This is a text with repetitions repetitions repetitions.\n" +
      "This is a text with repetitions repetitions repetitions repetitions.\n\n" +
      "blah blah blah blah blah\n\n" +
      "No reps at the beginning of this sentence but MMMMMMMMMM\n\n" +
      "Seeing doubles: bass banana bass banana bass banana bass banana\n"

  test("paragraph_repetitions_v1 equals repetitions_v1 on the reference doc (test_repetitions.py:50-88)") {
    // none of the reference doc's repetitions cross a paragraph break, so
    // the reference asserts span-for-span equality of the two taggers
    val whole = new RepetitionTaggers.CharRepetitionsTagger
    val para = new RepetitionTaggers.ParagraphCharRepetitionsTagger
    assert(para.predict(DocWithReps) == whole.predict(DocWithReps))
    // and on a no-repetition doc both emit just the three zero stats
    val clean = "\nThis is a text without repetitions.\n\nAbsolutely no repetitions here.\n"
    val ps = para.predict(clean)
    assert(ps.map(_.typ) ==
      Vector("doc_max_score_repetition", "doc_max_length_repetition", "doc_frac_repetition"))
    assert(ps.forall(_.score == 0.0))
    assert(ps == whole.predict(clean))
  }

  test("paragraph_repetitions_v1 shifts spans by paragraph offset") {
    val doc = "clean first line\nblah blah blah blah blah\n"
    val spans = new RepetitionTaggers.ParagraphCharRepetitionsTagger().predict(doc)
    val rep = spans.filter(_.typ == "repetition")
    assert(rep.length == 1)
    assert(graft.core.CodePoints.slice(doc, rep.head.start.toInt, rep.head.end.toInt)
      == "blah blah blah blah blah")
    // but it cannot see a repetition that spans the paragraph break
    val crossing = "blah blah bl\nah blah blah\n"
    assert(!new RepetitionTaggers.ParagraphCharRepetitionsTagger()
      .predict(crossing).exists(_.typ == "repetition"))
  }

  test("tokenizer_repetitions_v1 keeps stats when empty; v2r2 does not (test_repetitions.py:169-180)") {
    val v1 = new RepetitionTaggers.TokenRepetitionsTagger(
      "tokenizer_repetitions_v1", emitStatsWhenEmpty = true,
      overlapDedup = false, chunked = false)
    val v2 = new RepetitionTaggers.TokenRepetitionsTagger()
    val clean = "Nothing to note."
    assert(v1.predict(clean).length == 3)  // the three zero doc stats
    assert(v1.predict(clean).forall(_.score == 0.0))
    assert(v2.predict(clean).isEmpty)
  }

  test("tokenizer_repetitions_v1 emits overlapping spans that v2r2 dedups (test_repetitions.py:143-167)") {
    // period-2 "foo bar" x4 also contains the period-4 "foo bar foo bar"
    // x2... construct a run where both period-1 and a longer period fire:
    // "a a a a a a" gives period-1 times=6; nothing to dedup. Use a text
    // where a contained span exists: w x w x w x w x -> period 2 times 4
    // and period 4 times 2 (dropped: times<=2), so plant nested runs:
    val text = "q z q z q z q z q z q z"  // period 2, times 6; period 4, times 3; period 6, times 2
    val v1 = new RepetitionTaggers.TokenRepetitionsTagger(
      "tokenizer_repetitions_v1", emitStatsWhenEmpty = true,
      overlapDedup = false, chunked = false)
    val v2 = new RepetitionTaggers.TokenRepetitionsTagger()
    val v1Reps = v1.predict(text).filter(_.typ == "repetition")
    val v2Reps = v2.predict(text).filter(_.typ == "repetition")
    assert(v1Reps.length > v2Reps.length)  // contained duplicates survive in v1
    assert(v2Reps.length == 1)
    // times = 6: 12 tokens at period 2 repeat exactly 6 times. (An older
    // build read 7 here by wrapping np.roll onto the last DATA row; the
    // reference pads a full mask row first — utils.py:74 — so the
    // boundary never extends the run. Pinned by the 405-case
    // reference-generated ground truth above.)
    assert(v2Reps.head.score == 6.0)
  }

  test("paragraph_tokenizer_repetitions_v1 shifts by paragraph offset") {
    val doc = "first clean paragraph here\nfoo bar foo bar foo bar foo bar\n"
    val t = new RepetitionTaggers.TokenRepetitionsTagger(
      "paragraph_tokenizer_repetitions_v1", emitStatsWhenEmpty = true,
      overlapDedup = false, chunked = false, perParagraph = true)
    val reps = t.predict(doc).filter(_.typ == "repetition")
    assert(reps.nonEmpty)
    val s = reps.maxBy(_.score)
    assert(graft.core.CodePoints.slice(doc, s.start.toInt, s.end.toInt)
      .contains("foo bar foo bar"))
  }

  test("tokenizer_repetitions_v2r2: a token hash collision is not a repetition") {
    assert("Aa".hashCode == "BB".hashCode)
    val t = new RepetitionTaggers.TokenRepetitionsTagger()
    assert(!t.predict("x Aa BB Aa y").exists(_.typ == "repetition"))
    val reps = t.predict("x Aa Aa Aa y").filter(_.typ == "repetition")
    assert(reps.map(s => (s.start, s.end, s.score)) == Vector((2L, 10L, 3.0)))
  }

  test("tokenizer_repetitions_v2r2: span offsets are code points after an astral char") {
    val doc = "\ud83d\ude00 ab ab ab ab end" // the emoji is 1 code point, 2 chars
    val spans = new RepetitionTaggers.TokenRepetitionsTagger().predict(doc)
    val reps = spans.filter(_.typ == "repetition")
    assert(reps.map(s => (s.start, s.end, s.score)) == Vector((2L, 13L, 4.0)))
    assert(graft.core.CodePoints.slice(doc, 2, 13) == "ab ab ab ab")
    val maxLen = spans.find(_.typ == "doc_max_length_repetition").get
    assert((maxLen.start, maxLen.end, maxLen.score) == (0L, 17L, 11.0))
  }
}
