package graft

import graft.dedup.{Dedup, MinHashLSH, SimHash}
import graft.functions.{Analyzer, SpanScrubber}
import graft.mixer.Mixer
import graft.operators.TagRunner

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SparkOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("exact dedup: first occurrence wins, skip rules honored") {
    val df = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "unique"), (4L, ""), (5L, "")
    ).toDF("id", "text")
    val out = Dedup.markDuplicates(df, col("text"), col("id"), skipEmpty = true)
      .select("id", "is_duplicate").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> false, 5L -> false))
  }

  test("paragraph dedup (hashed shuffle keys) fuzz vs brute-force first-occurrence model") {
    // seeded random corpora with heavy paragraph reuse; the 96-bit-hash
    // window must agree exactly with a naive in-memory walk in doc order
    val rng = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "gamma", "", "shared line", "x y z", "beta")
    val docsData = (0 until 60).map { i =>
      val nParas = 1 + rng.nextInt(5)
      (i.toLong, (0 until nParas).map(_ => vocab(rng.nextInt(vocab.length))).mkString("\n"))
    }
    val expected = {
      val seen = scala.collection.mutable.HashSet.empty[String]
      docsData.flatMap { case (id, text) =>
        text.split("\n", -1).zipWithIndex.map { case (p, idx) =>
          val dup = p.trim.nonEmpty && !seen.add(p)
          ((id, idx), dup)
        }
      }.toMap
    }
    val out = Dedup.paragraphDuplicates(
      docsData.toDF("id", "text"), col("id"), col("text"), col("id"))
      .select(col("id"), col("para_index"), col("is_duplicate"))
      .as[(Long, Int, Boolean)].collect()
      .map { case (id, idx, d) => ((id, idx), d) }.toMap
    assert(out == expected)
  }

  test("paragraph dedup marks re-seen paragraphs across docs") {
    val df = Seq(
      (1L, "alpha\nshared para\nbeta"),
      (2L, "shared para\ngamma")
    ).toDF("id", "text")
    val out = Dedup.paragraphDuplicates(df, col("id"), col("text"), col("id"))
      .filter(col("is_duplicate"))
      .select("id", "para").as[(Long, String)].collect().toSeq
    assert(out == Seq((2L, "shared para")))
  }

  test("ngram overlap dedup: full clone crosses threshold, fresh text does not") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, other)).toDF("id", "text")
    val out = Dedup.ngramOverlapDuplicates(df, col("id"), col("text"), col("id"),
      n = 8, stride = 0, threshold = 0.7)
      .select("id", "is_duplicate").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false))
  }

  test("minhash LSH finds planted near-duplicate pair") {
    val a = (1 to 50).map(i => s"tok$i").mkString(" ")
    val nearA = ((1 to 47).map(i => s"tok$i") ++ Seq("x", "y", "z")).mkString(" ")
    val far = (200 to 250).map(i => s"tok$i").mkString(" ")
    val df = Seq(("a", a), ("b", nearA), ("c", far)).toDF("id", "text")
    val pairs = MinHashLSH.nearDuplicatePairs(df, col("id"), col("text"),
      k = 3, numPerms = 32, bands = 16, minJaccard = 0.3)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(pairs.contains(("a", "b")))
    assert(!pairs.exists(p => p._1 == "c" || p._2 == "c"))
  }

  test("simhash: identical texts at distance 0, unrelated not paired") {
    val df = Seq(("a", "the quick brown fox jumps"), ("b", "the quick brown fox jumps"),
      ("c", "entirely different words everywhere here")).toDF("id", "text")
    val pairs = SimHash.nearDuplicatePairs(df, col("id"), col("text"), maxDistance = 3)
      .as[(String, String, Long)].collect()
    assert(pairs.exists(p => p._1 == "a" && p._2 == "b" && p._3 == 0))
  }

  test("scrub expression in a DataFrame pipeline (email-spans golden case)") {
    // mirrors tests/config/email-spans.json: [B-EMAIL]{}[E-EMAIL] template
    val df = Seq(("d1", "write to alice@example.com today")).toDF("id", "content")
    val spans = array(struct(lit(9L).as("start"), lit(26L).as("end"),
      lit("[B-EMAIL]{}[E-EMAIL]").as("template")))
    val out = df.select(SpanScrubber.scrubSpans(col("content"), spans).as("t"))
      .as[String].head()
    assert(out == "write to [B-EMAIL]alice@example.com[E-EMAIL] today")
  }

  test("TagRunner: fused taggers produce mangled attribute map with rounding") {
    val df = Seq(("1", "This is a test.")).toDF("id", "content")
    val attrs = TagRunner.tag(df, Seq("gopher_v1", "char_length_v1"), "exp")
    val row = attrs.collect()(0)
    val m = row.getMap[String, Seq[org.apache.spark.sql.Row]](1)
    assert(m.contains("exp__gopher_v1__word_count"))
    assert(m.contains("exp__char_length_v1__length"))
    val mc3 = m("exp__gopher_v1__fraction_of_characters_in_most_common_3grams").head
    assert(mc3.getDouble(2) == 0.58333) // 5-decimal rounding (taggers.py:22)
  }

  test("TagRunner: tag is the withAttributes battery projected to attrSchema") {
    val df = Seq(
      ("d1", "Mail a@b.com today.",
        "<a href=\"https://creativecommons.org/licenses/by/4.0/\">cc</a>"),
      ("d2", "plain words only", "<p>no license</p>")).toDF("id", "content", "html")
    val battery = Seq("cc_re", "pii_regex_with_counts_fast_v2", "char_length_v1")
    val tagged = TagRunner.tag(df, battery, "e", metaCols = Seq("html"))
    assert(tagged.schema == TagRunner.attrSchema)
    def attrs(d: org.apache.spark.sql.DataFrame) = d.select("id", "attributes").collect()
      .map(r => r.getString(0) -> r.getMap[String, Seq[org.apache.spark.sql.Row]](1).toMap)
      .toMap
    val inPlace = attrs(TagRunner.withAttributes(df, battery, "e", metaCols = Seq("html")))
    assert(attrs(tagged) == inPlace)
    // cc_re read the html from the metadata, not the text
    assert(inPlace("d1").contains("e__cc_re__cc_by_4_0"))
    assert(!inPlace("d2").contains("e__cc_re__cc_by_4_0"))
  }

  test("mixer: include/exclude predicate semantics (filters.rs:327-385)") {
    val df = Seq(
      ("keep1", 10.0, 0.1), ("drop_exc", 10.0, 0.9), ("drop_inc", 1.0, 0.1)
    ).toDF("id", "len", "tox")
    val cfg = Mixer.MixerConfig(
      include = Seq(col("len") > 5.0),
      exclude = Seq(col("tox") > 0.5))
    val kept = df.filter(Mixer.keepPredicate(cfg)).select("id").as[String].collect().toSet
    assert(kept == Set("keep1"))
    // empty include = keep all (minus excludes); null-safe
    val cfg2 = Mixer.MixerConfig(exclude = Seq(col("tox") > 0.5))
    assert(df.filter(Mixer.keepPredicate(cfg2)).count() == 2)
  }

  test("mixer: attribute merge is a left join; missing attrs tolerated") {
    val docs = Seq(("d1", "text one"), ("d2", "text two")).toDF("id", "content")
    val attrs = TagRunner.tag(Seq(("d1", "text one")).toDF("id", "content"),
      Seq("char_length_v1"), "e")
    val merged = Mixer.mergeAttributes(docs, Seq(attrs))
    assert(merged.count() == 2) // d2 survives with empty attributes
    val d2attrs = merged.filter(col("id") === "d2")
      .select(size(map_keys(col("attributes")))).as[Int].head()
    assert(d2attrs == 0)
    // an attributes column already on the docs merges first: the table
    // wins on a shared key, the docs' other keys survive
    val key = "e__char_length_v1__length"
    val preTagged = TagRunner.withAttributes(docs,
      Seq("char_length_v1", "whitespace_tokenizer_v1"), "e")
    val table = attrs.select(col("id"), map(lit(key), array(struct(lit(0L).as("start"),
      lit(1L).as("end"), lit(42.0).as("score")))).as("attributes"))
    def d1(df: org.apache.spark.sql.DataFrame) = df.filter(col("id") === "d1")
      .select(TagRunner.attrScore(key), size(map_keys(col("attributes"))))
      .as[(Double, Int)].head()
    val (score, nKeys) = d1(Mixer.mergeAttributes(preTagged, Seq(table)))
    assert(score == 42.0)
    assert(nKeys == d1(preTagged)._2)
  }

  test("histogram aggregator: merge associative + matches expression form") {
    val agg = new Analyzer.HistogramAggregator(10, 1.0)
    val xs = Seq(0.5, 0.25, 2.0, 100.0, 0.5)
    val parts = xs.grouped(2).map(_.foldLeft(agg.zero)(agg.reduce)).toList
    val merged1 = parts.foldLeft(agg.zero)(agg.merge)
    val merged2 = parts.reverse.foldLeft(agg.zero)(agg.merge)
    assert(merged1 == merged2)
    assert(merged1.values.sum == xs.length)
    // cap at 1.0: 2.0 and 100.0 land in the 1.0 bucket (analyzer.py:126-133)
    assert(merged1(agg.bucketOf(1.0)) >= 2)
  }

  test("top-k ngrams: exact counts with deterministic tie-break") {
    val df = Seq("a b a b", "a b c").toDF("text")
    val top = Analyzer.topKNgrams(df, col("text"), 2, 2)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("a b", 3L), ("b a", 1L)))
  }

  test("ANN: IVF coarse assignment routes vectors to the nearest centroid") {
    val c0 = Seq(10.0, 0.0); val c1 = Seq(0.0, 10.0)
    val df = Seq(
      (1L, Array(9.0f, 1.0f)), (2L, Array(1.0f, 9.0f)), (3L, Array(11.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val assigned = df.select(col("vec_id"),
      graft.similarity.Ann.ivfAssign(col("embedding"), Seq(c0, c1)).as("list"))
      .as[(Long, Int)].collect().toMap
    assert(assigned == Map(1L -> 0, 2L -> 1, 3L -> 0))
  }

  test("ANN: k-means trainer — SSE monotone non-increasing, deterministic, recovers planted clusters") {
    import graft.similarity.Ann
    // three well-separated planted clusters in 4-d
    val rows = (0 until 90).map { i =>
      val rng = new scala.util.Random(i)
      val center = i % 3 match {
        case 0 => Array(10f, 0f, 0f, 0f)
        case 1 => Array(0f, 10f, 0f, 0f)
        case _ => Array(0f, 0f, 10f, 0f)
      }
      (i.toLong, center.map(_ + rng.nextGaussian().toFloat * 0.1f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val c0 = Ann.kmeansTrain(df, col("vec_id"), col("embedding"), k = 3, iters = 0)
    val c1 = Ann.kmeansTrain(df, col("vec_id"), col("embedding"), k = 3, iters = 1)
    val c3 = Ann.kmeansTrain(df, col("vec_id"), col("embedding"), k = 3, iters = 3)
    val sse = Seq(c0, c1, c3).map(Ann.kmeansSse(df, col("embedding"), _))
    assert(sse(1) <= sse(0) && sse(2) <= sse(1))
    // converged centroids land near the planted centers (one per cluster)
    val recovered = c3.map(_.zipWithIndex.maxBy(_._1)._2).toSet
    assert(recovered == Set(0, 1, 2))
    // determinism
    assert(c3 == Ann.kmeansTrain(df, col("vec_id"), col("embedding"), k = 3, iters = 3))
  }

  test("ANN: brute force and LSH agree on the top hit for a planted vector") {
    val target = Seq.fill(8)(1.0)
    val rows = (1 to 40).map { i =>
      val rng = new scala.util.Random(i)
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))
    } :+ (99L, target.map(_.toFloat).toArray)
    val df = rows.toDF("vec_id", "embedding")
    val exact = graft.similarity.Ann.cosineTopK(df, col("vec_id"), col("embedding"), target, 1)
      .select("id").as[Long].head()
    assert(exact == 99L)
  }

  test("exactJaccardPairs equals the brute-force pairwise Jaccard model") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "the quick brown fox jumps over the lazy dog today",   // near-dup of 0
      "a completely different sentence with other words entirely",
      "the quick brown fox jumps over the lazy dog tonight", // exact dup of 0
      "lorem ipsum dolor sit amet consectetur adipiscing elit",
      "lorem ipsum dolor sit amet consectetur adipiscing sed")// near-dup of 4
    val df = texts.zipWithIndex.map { case (t, i) => (i.toString, t) }.toDF("id", "text")
    val got = MinHashLSH.exactJaccardPairs(df, col("id"), col("text"), k = 3, minJaccard = 0.3)
      .as[(String, String, Double)].collect().toSet
    // brute-force model: every ordered pair through the verify-stage expression
    val a = df.select(col("id").as("id_a"), col("text").as("ta"))
    val b = df.select(col("id").as("id_b"), col("text").as("tb"))
    val model = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        MinHashLSH.exactJaccard(col("ta"), col("tb"), 3).as("j"))
      .filter(col("j") >= 0.3)
      .as[(String, String, Double)].collect().toSet
    assert(got == model)
    assert(got.map(p => (p._1, p._2)).contains(("0", "3"))) // the planted exact dup
    assert(got.exists { case (x, y, j) => x == "0" && y == "3" && j == 1.0 })
  }

  test("exactJaccardPairs maxShingleDf cap drops boilerplate-only pairs") {
    // every doc shares one boilerplate shingle; only 0/1 are real near-dups
    val texts = Seq(
      "shared legal boilerplate unique alpha beta gamma delta",
      "shared legal boilerplate unique alpha beta gamma epsilon",
      "shared legal boilerplate zz yy xx ww vv",
      "shared legal boilerplate qq rr ss tt uu")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toString, t) }.toDF("id", "text")
    val uncapped = MinHashLSH.exactJaccardPairs(df, col("id"), col("text"),
      k = 3, minJaccard = 0.4).as[(String, String, Double)].collect().toSet
    val capped = MinHashLSH.exactJaccardPairs(df, col("id"), col("text"),
      k = 3, minJaccard = 0.4, maxShingleDf = Some(2L))
      .as[(String, String, Double)].collect().toSet
    assert(uncapped.map(p => (p._1, p._2)) == Set(("0", "1")))
    // the capped variant still finds the true near-dup pair: its shared
    // shingles beyond the boilerplate have doc-frequency <= 2
    assert(capped.map(p => (p._1, p._2)) == Set(("0", "1")))
  }

  test("prefix path honors maxShingleDf and completes a supplied Observation") {
    // previously the prefixFilter branch silently ignored both options:
    // the hot-shingle cap never applied and obs.get blocked forever
    val texts = Seq(
      "shared legal boilerplate unique alpha beta gamma delta",
      "shared legal boilerplate unique alpha beta gamma epsilon",
      "shared legal boilerplate zz yy xx ww vv",
      "shared legal boilerplate qq rr ss tt uu")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toString, t) }.toDF("id", "text")
    // the obs3 fixture from the unfiltered-path test: a df=12 boilerplate
    // bigram rides every doc while a planted duplicate pair survives on
    // its rare shingles — with SOME pairs surviving, AQE cannot
    // empty-propagate the metrics node away (the documented caveat)
    val boiler = (0 until 10).map(i => (f"d$i%02d", s"u$i v$i shared tail")) ++
      Seq(("pa", "dup one two shared tail"), ("pb", "dup one two shared tail"))
    val obs = new org.apache.spark.sql.Observation()
    val capped = MinHashLSH.exactJaccardPairs(boiler.toDF("id", "text"),
      col("id"), col("text"), k = 2, minJaccard = 0.5,
      maxShingleDf = Some(5L), prefixFilter = true, dropObs = Some(obs))
      .as[(String, String, Double)].collect().toSet
    assert(capped.map(p => (p._1, p._2)) == Set(("pa", "pb")))
    // the cap actually applied on this path (it used to be silently
    // ignored) and the observation completed
    assert(obs.get("dropped_postings").asInstanceOf[Long] > 0L)
    // uncapped with an observation: completes with zero drops
    val obs0 = new org.apache.spark.sql.Observation()
    MinHashLSH.exactJaccardPairs(df, col("id"), col("text"),
      k = 3, minJaccard = 0.4, prefixFilter = true, dropObs = Some(obs0)).collect()
    assert(obs0.get("dropped_postings").asInstanceOf[Long] == 0L)
  }

  test("cosineLiteral: a zero-norm corpus vector never wins the top-k") {
    val docs = Seq(
      ("z", Seq(0.0, 0.0, 0.0)),            // degenerate: NaN unguarded
      ("a", Seq(1.0, 0.0, 0.0)),
      ("b", Seq(0.9, 0.1, 0.0))).toDF("id", "vec")
    val top = graft.similarity.Ann.cosineTopK(
      docs, col("id"), col("vec"), Seq(1.0, 0.0, 0.0), k = 2)
      .as[(String, Double)].collect()
    assert(top.map(_._1).toSeq == Seq("a", "b"))
    assert(!top.exists(_._1 == "z"))
  }

  test("duplicateClusters: chains, cliques, and isolated pairs resolve to min-id components") {
    // chain 0-1-2-3-4-5 (diameter 5 forces multi-round propagation),
    // clique {10,11,12}, isolated pair {20,21}
    val pairs = (Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ++
      Seq((10L, 11L), (11L, 12L), (10L, 12L)) ++ Seq((20L, 21L)))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs, col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toMap
    val want = (0L to 5L).map(_ -> 0L).toMap ++
      Seq(10L, 11L, 12L).map(_ -> 10L).toMap ++ Map(20L -> 20L, 21L -> 20L)
    assert(got == want)
    // empty pair table short-circuits to an empty cluster table with the
    // input id type (the r6 lazily-initialized-labels path)
    val none = Dedup.duplicateClusters(
      pairs.filter(col("id_a") < 0), col("id_a"), col("id_b"))
    assert(none.columns.toSeq == Seq("id", "cluster") && none.count() == 0)
  }

  test("prefix-filtered exactJaccardPairs equals the unfiltered exact path") {
    // varied-overlap corpus: prefixes of a rotating word pool, so pair
    // similarities spread across the threshold on both sides
    val pool = (0 until 30).map(i => s"w$i")
    val texts = (0 until 40).map { d =>
      val len = 6 + d % 13
      (0 until len).map(j => pool((d * 3 + j * (1 + d % 4)) % pool.size)).mkString(" ")
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toString, t) }.toDF("id", "text")
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val exact = MinHashLSH.exactJaccardPairs(df, col("id"), col("text"),
        k = 2, minJaccard = tau).as[(String, String, Double)].collect().toSet
      val prefixed = MinHashLSH.exactJaccardPairs(df, col("id"), col("text"),
        k = 2, minJaccard = tau, prefixFilter = true)
        .as[(String, String, Double)].collect().toSet
      assert(prefixed == exact, s"tau=$tau")
      assert(exact.nonEmpty, s"tau=$tau needs non-trivial pairs to be a real test")
    }
  }

  test("prefix-filtered exactJaccardPairs == exact on randomized corpora (fuzz)") {
    val rng = new scala.util.Random(2026)
    for (round <- 0 until 4) {
      val pool = (0 until 12 + round * 6).map(i => s"t$i")
      val texts = (0 until 25).map { _ =>
        val len = 2 + rng.nextInt(18)
        (0 until len).map(_ => pool(rng.nextInt(pool.size))).mkString(" ")
      }
      val df = texts.zipWithIndex.map { case (t, i) => (i.toString, t) }.toDF("id", "text")
      val tau = Seq(0.35, 0.5, 0.65, 0.8)(round)
      val exact = MinHashLSH.exactJaccardPairs(df, col("id"), col("text"),
        k = 1 + round % 3, minJaccard = tau).as[(String, String, Double)].collect().toSet
      val prefixed = MinHashLSH.exactJaccardPairs(df, col("id"), col("text"),
        k = 1 + round % 3, minJaccard = tau, prefixFilter = true)
        .as[(String, String, Double)].collect().toSet
      assert(prefixed == exact, s"round=$round tau=$tau k=${1 + round % 3}")
    }
  }

  test("cosineNearDupPairs: multi-seed tables agree on planted pairs and dedupe candidates") {
    val rng = new scala.util.Random(11)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(12)(rng.nextGaussian().toFloat)))
    val rows = base.map { case (i, v) => if (i == 30 || i == 31) (i, base(2)._2) else (i, v) }
    val df = rows.toDF("vec_id", "embedding")
    val one = graft.similarity.Ann.cosineNearDupPairs(df, col("vec_id"),
      col("embedding"), dim = 12, minCosine = 0.999, bits = 8)
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    val multi = graft.similarity.Ann.cosineNearDupPairs(df, col("vec_id"),
      col("embedding"), dim = 12, minCosine = 0.999, bits = 8,
      seeds = Seq(42L, 7L, 99L))
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    val planted = Set((2L, 30L), (2L, 31L), (30L, 31L))
    assert(one == planted)
    // extra tables may only ADD recall, and identical-vector pairs are
    // found by every table — the groupBy dedupes the duplicate proposals
    assert(multi == planted)
  }

  test("cosineNearDupPairs: planted identical vectors recovered with recall 1") {
    val rng = new scala.util.Random(7)
    val base = (0 until 60).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    // plant: 50/51 copy vector 0, 52 copies vector 1
    val rows = base.map {
      case (i, _) if i == 50 || i == 51 => (i, base(0)._2)
      case (i, _) if i == 52 => (i, base(1)._2)
      case r => r
    }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = graft.similarity.Ann.cosineNearDupPairs(df, col("vec_id"),
      col("embedding"), dim = 16, minCosine = 0.999, bits = 10)
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 50L), (0L, 51L), (50L, 51L), (1L, 52L)))
  }

  test("duplicateClusters: 100-link chain converges in <= 8 rounds (pointer doubling)") {
    // diameter 100; min-label-only propagation would need 100 rounds and
    // previously FAILED the job at maxIters=20. log2(100) < 7, +1 slack.
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(chain, col("id_a"), col("id_b"), maxIters = 8)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 100L).map(_ -> 0L).toMap)
  }

  test("prefix filter lossless at float-hostile thresholds (ceil overshoot guard)") {
    // tau=0.28, n=25: 25*0.28 = 7.000000000000001 in doubles, so an
    // unguarded ceil() gives 8 where ⌈τn⌉ = 7, shortening A's prefix to
    // 18 of 25. The adversarial pair: B ⊆ A with |B| = 7 = A's 7
    // LARGEST-hash shingles (J = 7/25 = 0.28, exactly at threshold) —
    // every common shingle then sits beyond the buggy prefix and the
    // pair vanishes; the guarded ceil keeps prefix 19 and finds it.
    val tau = 0.28
    val pool = (0 until 40).map(i => s"w$i")
    val byHash = pool.map(w => w -> spark.range(1)
        .select(xxhash64(lit(w))).head().getLong(0))
      .sortBy(_._2).map(_._1)
    val aOnly = byHash.take(18) // 18 smallest hashes
    val shared = byHash.takeRight(7) // 7 largest hashes
    val df = Seq(("a", (aOnly ++ shared).mkString(" ")),
      ("b", shared.mkString(" "))).toDF("id", "text")
    val exact = MinHashLSH.exactJaccardPairs(df, col("id"), col("text"),
      k = 1, minJaccard = tau).as[(String, String, Double)].collect().toSet
    assert(exact.map(p => (p._1, p._2)) == Set(("a", "b")),
      "the planted pair must sit exactly at the threshold")
    val prefixed = MinHashLSH.exactJaccardPairs(df, col("id"), col("text"),
      k = 1, minJaccard = tau, prefixFilter = true)
      .as[(String, String, Double)].collect().toSet
    assert(prefixed == exact, "guarded ceil must keep the lossless prefix bound")
  }

  test("skew caps are observable: dropped rows/buckets surface through dropObs") {
    // cosine path: 20 identical vectors overflow maxBucketSize=10 and
    // vanish; 3 copies of another vector survive and pair — the
    // Observation must report exactly the capped bucket
    val base = Array.fill(8)(0.5f)
    val other = Array.fill(8)(-0.5f)
    val vecs = (0L until 20L).map(i => (i, base)) ++
      Seq((20L, other), (21L, other), (22L, other))
    val obs = new org.apache.spark.sql.Observation("cosine-drops")
    val out = graft.similarity.Ann.cosineNearDupPairs(vecs.toDF("vec_id", "embedding"),
      col("vec_id"), col("embedding"), dim = 8, minCosine = 0.9,
      bits = 6, maxBucketSize = 10, dropObs = Some(obs)).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((20L, 21L), (20L, 22L), (21L, 22L)))
    assert(obs.get("dropped_rows") == 20L && obs.get("dropped_buckets") == 1L)

    // minhash path: 15 identical docs overflow maxBucketSize=10 in every
    // band (bands=4 -> 4 dropped buckets of 15 rows each); a planted
    // near-dup pair elsewhere keeps the output non-empty
    val docs = (0 until 15).map(i => (i.toString, "all the same words here again")) ++
      Seq(("x1", "completely different content entirely unrelated"),
        ("x2", "completely different content entirely unrelated"))
    val obs2 = new org.apache.spark.sql.Observation("minhash-drops")
    val out2 = MinHashLSH.nearDuplicatePairs(docs.toDF("id", "text"),
      col("id"), col("text"), k = 2, numPerms = 16, bands = 4,
      minJaccard = 0.5, maxBucketSize = 10, dropObs = Some(obs2)).collect()
    assert(out2.map(_.getString(0)).toSet == Set("x1"))
    assert(obs2.get("dropped_rows") == 60L && obs2.get("dropped_buckets") == 4L)

    // shingle-df cap path: the "shared tail" bigram rides every doc
    // (df=12 > cap=5, 12 lost postings) while a planted duplicate pair
    // survives on its rare shingles (J = 3/5 after the drop)
    val boiler = (0 until 10).map(i => (f"d$i%02d", s"u$i v$i shared tail")) ++
      Seq(("pa", "dup one two shared tail"), ("pb", "dup one two shared tail"))
    val obs3 = new org.apache.spark.sql.Observation("df-drops")
    val out3 = MinHashLSH.exactJaccardPairs(boiler.toDF("id", "text"),
      col("id"), col("text"), k = 2, minJaccard = 0.5,
      maxShingleDf = Some(5L), dropObs = Some(obs3)).collect()
    assert(out3.map(r => (r.getString(0), r.getString(1))).toSet == Set(("pa", "pb")))
    assert(obs3.get("dropped_postings") == 12L && obs3.get("dropped_shingles") == 1L)

    // the all-dropped edge: AQE's runtime empty-relation propagation can
    // eliminate the metrics node together with the emptied plan (the
    // documented caveat) — with AQE off the metric survives even when
    // EVERY row is capped away
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val vecs2 = (0L until 20L).map(i => (i, base)) :+ (20L, other)
      val obs4 = new org.apache.spark.sql.Observation("cosine-drops-empty")
      val out4 = graft.similarity.Ann.cosineNearDupPairs(
        vecs2.toDF("vec_id", "embedding"), col("vec_id"), col("embedding"),
        dim = 8, minCosine = 0.9, bits = 6, maxBucketSize = 10,
        dropObs = Some(obs4)).collect()
      assert(out4.isEmpty)
      assert(obs4.get("dropped_rows") == 20L && obs4.get("dropped_buckets") == 1L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("cosineNearDupPairs: zero-norm vectors never pair (NaN guard)") {
    // two all-zero embeddings share the all-ones hyperplane bucket and
    // cosine to NaN = 0/0; Spark sorts NaN above every double, so an
    // unguarded >= threshold would emit them as a false duplicate pair
    val rng = new scala.util.Random(3)
    val rows = Seq((0L, Array.fill(8)(0f)), (1L, Array.fill(8)(0f))) ++
      (2L until 10L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val pairs = graft.similarity.Ann.cosineNearDupPairs(rows.toDF("vec_id", "embedding"),
      col("vec_id"), col("embedding"), dim = 8, minCosine = 0.9, bits = 6)
      .as[(Long, Long, Double)].collect()
    assert(!pairs.exists(p => p._1 == 0L && p._2 == 1L))
    assert(pairs.forall(p => !p._3.isNaN))
  }

  /** Docs and vectors for the LSH pair operators, as parquet (a
    * LocalRelation would fold the sketch projection away at optimization
    * time). Reading them runs jobs; building the operators must not. */
  private def nearDupInputs(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-near-dup").toString
    (0 until 12).map(i => (i.toString, s"text body number ${i % 4} with the same words"))
      .toDF("id", "text").write.parquet(s"$dir/docs")
    (0L until 12L).map(i => (i, Array.fill(4)((i % 3).toFloat + 1)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    (spark.read.parquet(s"$dir/docs"), spark.read.parquet(s"$dir/vecs"))
  }

  /** The three LSH pair operators, each with the class of its
    * per-document sketch expression; `observed` attaches a fresh
    * `dropObs` to each. */
  private def nearDupOperators(inputs: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      observed: Boolean): Seq[(String, org.apache.spark.sql.DataFrame, Class[_])] = {
    val (docs, vecs) = inputs
    def dropObs = if (observed) Some(new org.apache.spark.sql.Observation()) else None
    Seq(
      ("minhash", MinHashLSH.nearDuplicatePairs(docs, col("id"), col("text"),
        k = 2, numPerms = 16, bands = 4, dropObs = dropObs),
        classOf[graft.functions.MinHashSigExpr]),
      ("simhash", SimHash.nearDuplicatePairs(docs, col("id"), col("text"),
        dropObs = dropObs), classOf[graft.functions.SimHash64Expr]),
      ("cosine", graft.similarity.Ann.cosineNearDupPairs(vecs, col("vec_id"),
        col("embedding"), dim = 4, minCosine = 0.9, bits = 4, dropObs = dropObs),
        classOf[graft.functions.HyperplaneBucketExpr]))
  }

  test("bucket-join plan shape: one bucket-key Exchange reused by both join sides, sketch once, no checkpoint") {
    // the cap's count window shares the self-join's exchange and sort, so
    // the bucket table is shuffled once and never materialized
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    object Nodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def sketches(exprs: Seq[Expression], cls: Class[_]): Int =
      exprs.map(_.collect { case e if cls.isInstance(e) => e }.size).sum
    val inputs = nearDupInputs()
    for (observed <- Seq(false, true)) {
      for ((name, df, sketch) <- nearDupOperators(inputs, observed)) {
        df.collect()
        val optimized = df.queryExecution.optimizedPlan
        val plan: SparkPlan = df.queryExecution.executedPlan
        val shuffles = Nodes.collect(plan) { case e: ShuffleExchangeExec => e }
        assert(shuffles.map(_.outputPartitioning.toString.replaceAll("#\\d+L?", "")) ==
          Seq("hashpartitioning(band, bucket, 4)"), s"$name: $plan")
        assert(Nodes.collect(plan) { case r: ReusedExchangeExec => r }.size == 1, s"$name: $plan")
        assert(Nodes.collect(plan) { case r: RDDScanExec => r }.isEmpty &&
          optimized.collect { case r: LogicalRDD => r }.isEmpty, s"$name: $plan")
        assert(optimized.toString.contains("CollectMetrics") == observed, s"$name: $optimized")
        // one copy per join side in the logical plan (no inferred
        // generator filter re-evaluating it), one in the executed plan,
        // where the second side reads the first side's exchange
        assert(sketches(optimized.collect { case p => p.expressions }.flatten, sketch) == 2,
          s"$name: $optimized")
        assert(sketches(Nodes.collect(plan) { case p => p.expressions }.flatten, sketch) == 1,
          s"$name: $plan")
      }
    }
    // no cap and no dropObs: the window is skipped, the exchange is shared
    val docs = (0 until 6).map(i => (i.toString, s"same words ${i % 2}")).toDF("id", "text")
    val uncapped = SimHash.nearDuplicatePairs(docs, col("id"), col("text"),
      maxBucketSize = Int.MaxValue)
    uncapped.collect()
    val plan = uncapped.queryExecution.executedPlan
    assert(!uncapped.queryExecution.optimizedPlan.toString.contains("Window"))
    assert(Nodes.collect(plan) { case e: ShuffleExchangeExec => e }.size == 1 &&
      Nodes.collect(plan) { case r: ReusedExchangeExec => r }.size == 1, plan.toString)
  }

  test("building a near-dup pair DataFrame runs no Spark job, and evaluating it leaves getPersistentRDDs unchanged") {
    val sc = spark.sparkContext
    val group = "near-dup-build"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.add(e.jobId)
          case Some("near-dup-marker") => marker.countDown()
          case _ =>
        }
    }
    val inputs = nearDupInputs()
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    val built = try {
      sc.setJobGroup(group, "build only")
      val ops = Seq(false, true).flatMap(nearDupOperators(inputs, _)).map(_._2)
      // listener events arrive in order: once the marker job is seen,
      // every job started while building has been reported
      sc.setJobGroup("near-dup-marker", "marker")
      spark.range(1).collect()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      ops
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(started.isEmpty, s"jobs run while building: $started")
    built.foreach(_.collect())
    assert(sc.getPersistentRDDs.keySet == persistedBefore,
      "evaluating the pairs left persisted (checkpoint) blocks behind")
  }

  test("salted text-fetch joins: same pairs as unsalted, hot key spread across salts") {
    // hot template: doc 0 near-identical to 30 others -> id_a=0 carries
    // most candidate pairs; salting must not change the answer
    val hot = (1 to 30).map(i => (i.toString,
      s"the shared spam template body repeated across mirrors variant v${i % 3}"))
    val rows = Seq(("0", "the shared spam template body repeated across mirrors variant v0")) ++
      hot ++ (31 to 45).map(i => (i.toString, s"unique document number $i with its own words w$i x$i"))
    val df = rows.toDF("id", "text")
    val plain = MinHashLSH.verifiedNearDuplicatePairs(df, col("id"), col("text"),
      k = 3, numPerms = 32, bands = 16, minJaccard = 0.5)
      .as[(String, String, Double)].collect().toSet
    val salted = MinHashLSH.verifiedNearDuplicatePairs(df, col("id"), col("text"),
      k = 3, numPerms = 32, bands = 16, minJaccard = 0.5, textJoinSalt = 4)
      .as[(String, String, Double)].collect().toSet
    assert(salted == plain)
    assert(plain.size > 100, s"hot template must generate a dense pair set, got ${plain.size}")
    // the salt column really distributes a hot key: pairs of id_a=0 land
    // in >1 salt partition (xxhash64(id_b) % 4 takes multiple values)
    val saltVals = spark.createDataset(plain.toSeq.filter(_._1 == "0").map(_._2))
      .select(pmod(xxhash64(col("value")), lit(4)).cast("int")).distinct().count()
    assert(saltVals > 1)
  }

  test("simhash: hot-block bucket cap drops observably; capped == uncapped below the cap") {
    // 15 identical docs share the signature, so every 16-bit block bucket
    // holds 15 rows (> cap 10) — the r5-verdict scale-killer scenario. A
    // second 2-doc duplicate pair rides buckets of size 2 and survives.
    val hot = (0 until 15).map(i => (f"h$i%02d", "the same boilerplate body every mirror serves"))
    val cool = Seq(("x1", "completely different content entirely unrelated"),
      ("x2", "completely different content entirely unrelated"))
    val df = (hot ++ cool).toDF("id", "text")
    val obs = new org.apache.spark.sql.Observation("simhash-drops")
    val capped = SimHash.nearDuplicatePairs(df, col("id"), col("text"),
      maxDistance = 3, maxBucketSize = 10, dropObs = Some(obs))
      .as[(String, String, Long)].collect()
    assert(capped.map(p => (p._1, p._2)).toSet == Set(("x1", "x2")))
    // 15 rows in each of the 4 block buckets dropped
    assert(obs.get("dropped_rows") == 60L && obs.get("dropped_buckets") == 4L)
    // with the cap above every bucket, the hot clique comes back in full
    val uncapped = SimHash.nearDuplicatePairs(df, col("id"), col("text"),
      maxDistance = 3, maxBucketSize = 1000)
      .as[(String, String, Long)].collect()
    assert(uncapped.length == 15 * 14 / 2 + 1)
    // and a no-op cap (nothing over 10 rows per bucket) equals uncapped
    val cool2 = cool.toDF("id", "text")
    val small = SimHash.nearDuplicatePairs(cool2, col("id"), col("text"),
      maxDistance = 3, maxBucketSize = 10).as[(String, String, Long)].collect().toSet
    val smallUncapped = SimHash.nearDuplicatePairs(cool2, col("id"), col("text"),
      maxDistance = 3, maxBucketSize = Int.MaxValue)
      .as[(String, String, Long)].collect().toSet
    assert(small == smallUncapped)
  }

  test("first-match-band/block pair dedup emits every pair exactly once") {
    // identical texts collide in ALL bands/blocks; the shuffle-free
    // first-match predicate must still emit one row per pair (the former
    // groupBy(id_a, id_b) guaranteed this by aggregation)
    val df = Seq(("a", "one two three four five six seven eight"),
      ("b", "one two three four five six seven eight"),
      ("c", "one two three four five six seven eight"),
      ("d", "totally unrelated content over here now")).toDF("id", "text")
    val sim = SimHash.nearDuplicatePairs(df, col("id"), col("text"), maxDistance = 3)
      .select("id_a", "id_b").as[(String, String)].collect().toList
    assert(sim.size == sim.distinct.size, s"duplicate simhash pair rows: $sim")
    assert(sim.toSet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val mh = MinHashLSH.nearDuplicatePairs(df, col("id"), col("text"),
      k = 3, numPerms = 32, bands = 16, minJaccard = 0.5)
      .select("id_a", "id_b").as[(String, String)].collect().toList
    assert(mh.size == mh.distinct.size, s"duplicate minhash pair rows: $mh")
    assert(mh.toSet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val vecs = Seq((0L, Array.fill(8)(0.5f)), (1L, Array.fill(8)(0.5f)),
      (2L, Array.fill(8)(-0.25f))).toDF("vec_id", "embedding")
    val cos = graft.similarity.Ann.cosineNearDupPairs(vecs, col("vec_id"),
      col("embedding"), dim = 8, minCosine = 0.9, bits = 6)
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toList
    assert(cos.size == cos.distinct.size && cos.toSet == Set((0L, 1L)))
  }

  test("first-match pair dedup equals the groupBy-dedup model on a fuzzed corpus") {
    // reference model: the pre-r6 formulation — explode blocks/bands,
    // self-join, groupBy(id_a, id_b) aggregate — replayed inline
    val rng = new scala.util.Random(19)
    val vocab = (0 until 30).map(i => s"w$i")
    def doc(): String = Seq.fill(6 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 40).map(i => (f"d$i%02d", doc()))
    // plant clusters of identical and near-identical docs
    val rows = base.map { case (id, t) =>
      if (id >= "d30") (id, base(3)._2) else if (id >= "d25") (id, base(7)._2 + " tail") else (id, t)
    }
    val df = rows.toDF("id", "text")
    val fast = SimHash.nearDuplicatePairs(df, col("id"), col("text"), maxDistance = 5)
      .as[(String, String, Long)].collect().toSet
    val model = {
      val sigs = df.select(col("id"), SimHash.simhash64(col("text")).as("sig"))
      val blocks = (0 until 4).map { blk =>
        struct(lit(blk).as("block"),
          shiftright(col("sig"), blk * 16).bitwiseAND(lit(0xffffL)).as("key"))
      }
      val exploded = sigs.select(col("id"), col("sig"), explode(array(blocks: _*)).as("b"))
        .select(col("id"), col("sig"), col("b.block").as("block"), col("b.key").as("key"))
      val a = exploded.select(col("block"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
      val b = exploded.select(col("block"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
      a.join(b, Seq("block", "key"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          SimHash.hamming(col("sig_a"), col("sig_b")).as("distance"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(min(col("distance")).as("distance"))
        .filter(col("distance") <= 5)
        .as[(String, String, Long)].collect().toSet
    }
    assert(fast == model)
  }
}
