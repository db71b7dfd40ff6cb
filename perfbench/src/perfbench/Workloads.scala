package perfbench

import graft.dedup.{Dedup, MinHashLSH}
import graft.mixer.{Mixer, PredicateCompiler}
import graft.operators.TagRunner

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What a run knows about its corpus. */
final class Ctx(val spark: SparkSession, val lay: Corpus.Layout, val corpus: String,
    val corpusBytes: Long, val contentBytes: Long, val ids: java.util.HashSet[String]) {
  def docs: Int = lay.spec.docs
}

/** Outcome of one output check. `digest` must repeat across the calls of
  * a run; `notes` carries measured values the check computes anyway. */
final case class Checked(ok: Boolean, digest: String, why: String,
    notes: Map[String, Double] = Map.empty)

/** A benchmark workload: its corpus, one call, the call's output check, and
  * the same call decomposed into traced layer calls. `warmCalls` untimed
  * calls come before the first timed one: past them, call time has stopped
  * falling (NOTES.md gives the measured curves), and a fixed count gives
  * every commit the same protocol. */
trait Workload {
  def name: String
  def warmCalls: Int
  def spec(tiny: Boolean): Corpus.Spec
  /** Facts derived from the corpus once, in this process, before any call. */
  def prepare(ctx: Ctx): Unit = ()
  /** One untraced call, from the call to the committed output in `out`. */
  def run(ctx: Ctx, out: String): Unit
  def check(ctx: Ctx, out: String): Checked
  /** The same work as [[run]], one traced span per layer call, each on
    * materialized input and forced by a real or a `noop` write. */
  def layers(ctx: Ctx, tr: Tracer, out: String): Unit
}

object Workloads {
  val all: Seq[Workload] = Seq(CurateCode, NearDupClusters)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n'; known: ${all.map(_.name).mkString(", ")}"))

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Caches `df` and evaluates it fully with a `noop` write. */
  def materialize(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    c.write.format("noop").mode("overwrite").save()
    c
  }

  def observed(obs: Observation): Map[String, Double] =
    obs.get.map { case (k, v) => k -> (v match {
      case n: Number => n.doubleValue()
      case null => 0.0
      case other => other.toString.toDouble
    }) }
}

/** `graft.Main.run` with the six-tagger code battery of
  * `SparkEntry.codePipeline`, exact document dedup, its keep/drop rules and
  * the PII/toxicity scrub, with an in-run analyze of the code-quality
  * attributes: dolma's tag -> dedupe -> mix, and analyze. The tag layer
  * does most of the work. */
object CurateCode extends Workload {
  import Workloads._

  val name = "curate_code"
  val warmCalls = 8
  def spec(tiny: Boolean) = Corpus.Spec(docs = if (tiny) 800 else 4000,
    dupRate = 0.05, familyRate = 0.05, hotFamily = 0, boilerRate = 0.3)

  val experiment = "exp"
  val taggers = Seq("gopher_v2", "code_redpajama_taggers_v1",
    "pii_regex_with_counts_fast_v2", "tokenizer_repetitions_v2r2",
    "code_copyright_comments_v1", "jigsaw_toxicity_paragraph_v1")
  val exclude = Seq(
    "$.attributes.exp__code_redpajama_taggers_v1__max_line_length_doc[0][2] > 1000",
    "$.attributes.exp__pii_regex_with_counts_fast_v2__doc_count[0][2] > 5",
    "$.attributes.exp__tokenizer_repetitions_v2r2__doc_max_score_repetition[0][2] >= 100",
    "$.attributes.exp__gopher_v2__fraction_of_duplicate_lines[0][2] > 0.5")
  val replacements = Seq(
    Mixer.SpanReplacementRule("exp__pii_regex_with_counts_fast_v2__EMAIL_ADDRESS", template = " |||EMAIL||| "),
    Mixer.SpanReplacementRule("exp__pii_regex_with_counts_fast_v2__PHONE_NUMBER", template = " |||PHONE||| "),
    Mixer.SpanReplacementRule("exp__pii_regex_with_counts_fast_v2__IP_ADDRESS", template = " |||IP||| "),
    Mixer.SpanReplacementRule("exp__jigsaw_toxicity_paragraph_v1__toxic", minScore = 0.8, template = ""))
  val bins = 100
  /** the attributes analyze summarises: the code-quality ones */
  val analyzeRegex = "code_redpajama_taggers_v1|code_copyright_comments_v1"

  def outputDir(out: String) = s"$out/output"
  def summariesDir(out: String) = s"$out/summaries"

  def config(ctx: Ctx, out: String): String =
    Seq(
      s""""input": {"format": "parquet", "path": ${Json.str(ctx.corpus)}, "id": "id", "text": "content"}""",
      s""""taggers": ${Json.arr(taggers).s}""",
      s""""experiment": ${Json.str(experiment)}""",
      s""""filter": {"exclude": ${Json.arr(exclude).s}}""",
      s""""span_replacement": ${Json.arr(replacements.map(r => Json.obj(
        Seq("span" -> r.attribute, "replacement" -> r.template) ++
          Option(r.minScore).filterNot(_.isInfinite).map("min_score" -> _): _*))).s}""",
      """"min_text_length": 1""",
      s""""output": {"path": ${Json.str(outputDir(out))}, "format": "parquet"}""",
      """"dedupe": {"enabled": true, "mode": "documents"}""",
      s""""analyze": {"enabled": true, "bins": $bins, "regex": ${Json.str(analyzeRegex)},
         |"summaries_output": ${Json.str(summariesDir(out))},
         |"report": ${Json.str(s"$out/report.txt")}}""".stripMargin
    ).mkString("{", ",\n", "}")

  def run(ctx: Ctx, out: String): Unit =
    graft.Main.run(ctx.spark, new ObjectMapper().readTree(config(ctx, out)))

  /** Output ids unique, a subset of the input ids, no more than the
    * inputs; the analyze summaries hold one row per name; digest = sha256
    * over the sorted (id, sha256(content)) lines. */
  def check(ctx: Ctx, out: String): Checked = {
    val rows = ctx.spark.read.parquet(outputDir(out))
      .select(col("id"), sha2(col("content"), 256)).collect()
    val lines = rows.map(r => r.getString(0) + "\t" + r.getString(1)).sorted
    val ids = rows.map(_.getString(0))
    val names = ctx.spark.read.parquet(summariesDir(out)).select("name").collect().map(_.getString(0))
    val why =
      if (ids.distinct.length != ids.length) "duplicate output ids"
      else if (!ids.forall(ctx.ids.contains)) "output id not in the input"
      else if (ids.length > ctx.docs || ids.isEmpty) s"${ids.length} output rows for ${ctx.docs} inputs"
      else if (names.isEmpty || names.length != names.distinct.length) s"${names.length} analyze summaries"
      else ""
    Checked(why.isEmpty, sha256Hex(lines.mkString("\n")), why, Map("rows" -> ids.length.toDouble))
  }

  def layers(ctx: Ctx, tr: Tracer, out: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    // Main's ingest binding: string id, scan-time provenance columns
    val docs = tr.span("sources.scan") { _ =>
      materialize(spark.read.parquet(ctx.corpus)
        .withColumn("id", col("id").cast("string"))
        .withColumn("__file", input_file_name())
        .withColumn("__ord", monotonically_increasing_id()))
    }._1
    val attrs = tr.span("operators.tag") { s =>
      val a = materialize(TagRunner.tag(docs, taggers, experiment))
      s.counts("docs_tagged") = TagRunner.lastDocsTagged.map(_.value.toDouble).getOrElse(0.0)
      a
    }._1
    val merged = tr.span("mixer.merge") { _ =>
      materialize(Mixer.mergeAttributes(docs, Seq(attrs)))
    }._1
    docs.unpersist(); attrs.unpersist()
    val marked = tr.span("dedup.doc") { s =>
      val obs = Observation("dedup")
      val m = materialize(Dedup.markDuplicates(merged,
        sha2(coalesce(col("content"), lit("")), 256), col("__ord"))
        .observe(obs, sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("dup_docs")))
      s.counts ++= observed(obs)
      m
    }._1
    merged.unpersist()
    // Main's in-run analyze over the merged attribute column
    tr.span("functions.analyze") { _ =>
      val sv = marked.select(explode(col("attributes")).as(Seq("name", "spans")))
        .filter(col("name").rlike(analyzeRegex))
        .select(col("name"), explode(when(size(col("spans")) > 0, col("spans"))
          .otherwise(array(struct(lit(0L).as("start"), lit(0L).as("end"), lit(0.0).as("score")))))
          .as("t"))
        .select(col("name"), when(col("name").contains("__label__"), least(col("t.score"), lit(1.0)))
          .otherwise(col("t.score")).as("score"), (col("t.end") - col("t.start")).cast("double").as("len"))
      val values = sv.select(concat(col("name"), lit("/score")).as("name"), col("score").as("v"))
        .unionAll(sv.select(concat(col("name"), lit("/length")).as("name"), col("len").as("v")))
      val summaries = values.as[(String, Double)].groupByKey(_._1).mapValues(_._2)
        .agg(new graft.functions.Binning.InferSummaryAgg(1 << 20, bins).toColumn.name("s"))
        .select(col("key").as("name"), col("s.bins").as("bins"), col("s.counts").as("counts"),
          col("s.total").as("total"), col("s.sum").as("sum"))
      val rows = summaries.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), summaries.schema)
        .write.mode("overwrite").parquet(summariesDir(out))
    }
    val cfg = Mixer.MixerConfig(
      exclude = exclude.map(PredicateCompiler.compile) :+ col("is_duplicate"),
      spanReplacements = replacements,
      discardFields = Seq("is_duplicate"),
      minTextLength = 1)
    val mixed = tr.span("mixer.mix") { s =>
      val obs = Observation("mix")
      val in = marked.observe(obs, sum(when(Mixer.keepPredicate(cfg),
        size(Mixer.replacementSpans(cfg))).otherwise(0)).as("scrub_spans"))
      val m = materialize(Mixer.mix(in, cfg, element_at(split(col("__file"), "/"), -1), col("__ord"))
        .drop("attributes", "__ord", "__file"))
      s.counts ++= observed(obs)
      m
    }._1
    marked.unpersist()
    tr.span("sources.write") { s =>
      val obs = Observation("write")
      mixed.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite").parquet(outputDir(out))
      s.counts ++= observed(obs)
      s.counts("bytes") = PerfBench.persistedBytes(new java.io.File(outputDir(out))).toDouble
    }
    mixed.unpersist()
  }
}

/** `MinHashLSH.nearDuplicatePairs` -> `Dedup.duplicateClusters` over a
  * corpus of planted near-duplicate families and one hot family larger
  * than the bucket cap; pairs and clusters are both written. */
object NearDupClusters extends Workload {
  import Workloads._
  val name = "near_dup_clusters"
  val warmCalls = 8
  def spec(tiny: Boolean) = Corpus.Spec(docs = if (tiny) 2400 else 3000,
    dupRate = 0.02, familyRate = 0.2, hotFamily = if (tiny) 1200 else 1300, boilerRate = 0.0)

  val k = 5
  val numPerms = 32
  val bands = 8
  val minJaccard = 0.5
  val maxBucketSize = 1000
  /** the estimator's 3-sigma error at 32 permutations, the same slack
    * `MinHashLSH.verifiedNearDuplicatePairs` derives by default */
  val estSlack: Double = 3 * math.sqrt(0.25 / numPerms)

  /** Planted truth, built once per run in this process. */
  private var truth: Truth = _

  final class Truth(val families: Seq[Seq[String]], val hot: Seq[String],
      val shingles: scala.collection.mutable.HashMap[String, Array[Long]],
      val allowedSplits: Int, val expectedSplits: Double)

  override def prepare(ctx: Ctx): Unit = {
    val lay = ctx.lay
    val n = ctx.docs
    def id(i: Int) = graft.sources.CodeDocs.makeDoc(i, lay.seed, n).id
    val shingles = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    def sh(i: Int): Array[Long] = shingles.getOrElseUpdate(id(i), Shingles.of(Corpus.content(i, lay), k))
    val byFamily = (0 until n).filter(lay.family(_) > 0).groupBy(lay.family(_)).values.toSeq
    val dupGroups = (0 until n).filter(lay.dupOf(_) >= 0).groupBy(lay.dupOf(_))
      .map { case (src, ds) => src +: ds }.toSeq
    val groups = (byFamily ++ dupGroups).map(_.sorted)
    groups.foreach(_.foreach(sh))
    val hot = (0 until n).filter(lay.family(_) == 0).map(id)
    // probability that LSH misses a planted group: edges appear with the
    // banding probability 1-(1-J^r)^b times P(estimate >= minJaccard)
    val r = numPerms / bands
    def edge(a: Array[Long], b: Array[Long]): Double = {
      val j = Shingles.jaccard(a, b)
      (1 - math.pow(1 - math.pow(j, r), bands)) * Stats.binomTail(numPerms, j, math.ceil(minJaccard * numPerms).toInt)
    }
    val expected = groups.map { g =>
      val s = g.map(i => shingles(id(i)))
      1 - Stats.connected(Array.tabulate(g.size, g.size)((x, y) => edge(s(x), s(y))))
    }.sum
    truth = new Truth(groups.map(_.map(id)), hot, shingles,
      Stats.poissonQuantile(expected, 1e-6), expected)
  }

  def pairsDir(out: String) = s"$out/pairs"
  def clustersDir(out: String) = s"$out/clusters"

  def pairs(ctx: Ctx, docs: DataFrame, obs: Observation): DataFrame =
    MinHashLSH.nearDuplicatePairs(docs, col("id"), col("content"), k = k,
      numPerms = numPerms, bands = bands, minJaccard = minJaccard,
      maxBucketSize = maxBucketSize, dropObs = Some(obs))

  def run(ctx: Ctx, out: String): Unit = {
    val spark = ctx.spark
    pairs(ctx, spark.read.parquet(ctx.corpus), Observation("lsh"))
      .write.mode("overwrite").parquet(pairsDir(out))
    Dedup.duplicateClusters(spark.read.parquet(pairsDir(out)), col("id_a"), col("id_b"))
      .write.mode("overwrite").parquet(clustersDir(out))
  }

  /** Every emitted pair's exact shingle Jaccard, recomputed here, meets
    * minJaccard less the estimator slack; every planted cold group (near-
    * dup family or exact-duplicate group) lands in one cluster, except for
    * as many splits as the banding-miss probability allows at 1e-6.
    * Hot-family pair recall is a note, not a failure. */
  def check(ctx: Ctx, out: String): Checked = {
    val spark = ctx.spark
    val prs = spark.read.parquet(pairsDir(out)).select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val clusters = spark.read.parquet(clustersDir(out)).select("id", "cluster").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def shOf(id: String): Array[Long] = truth.shingles.getOrElseUpdate(id,
      Shingles.of(Corpus.content(Shingles.indexOf(id), ctx.lay), k))
    val low = prs.iterator.map { case (a, b) => Shingles.jaccard(shOf(a), shOf(b)) }
      .count(_ < minJaccard - estSlack)
    val split = truth.families.count(f => f.map(id => clusters.getOrElse(id, "self:" + id)).distinct.size > 1)
    val hotSizes = truth.hot.flatMap(clusters.get).groupBy(identity).values.map(_.size.toLong)
    val h = truth.hot.size.toLong
    val recall = if (h < 2) 1.0 else hotSizes.map(c => c * (c - 1) / 2).sum.toDouble / (h * (h - 1) / 2)
    val digest = sha256Hex(prs.map { case (a, b) => s"$a\t$b" }.sorted.mkString("\n") + "\n--\n" +
      clusters.toSeq.map { case (a, c) => s"$a\t$c" }.sorted.mkString("\n"))
    val why =
      if (prs.isEmpty) "no pairs"
      else if (low > 0) s"$low emitted pairs below Jaccard ${minJaccard - estSlack}"
      else if (split > truth.allowedSplits)
        s"$split planted groups split across clusters; ${truth.allowedSplits} allowed " +
          f"(expected ${truth.expectedSplits}%.2e)"
      else ""
    Checked(why.isEmpty, digest, why, Map("pairs" -> prs.length.toDouble,
      "planted_recall" -> recall, "split_groups" -> split.toDouble))
  }

  def layers(ctx: Ctx, tr: Tracer, out: String): Unit = {
    val spark = ctx.spark
    val docs = tr.span("sources.scan") { _ =>
      materialize(spark.read.parquet(ctx.corpus).select("id", "content"))
    }._1
    // bucket sizes, for the candidate count the self-join pays; extra work
    // that the pipeline does not do, so it is a probe, not a layer
    tr.span("probe.lsh_buckets") { s =>
      val sizes = MinHashLSH.bandedBuckets(docs, col("id"), col("content"), k, numPerms, bands)
        .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .agg(sum(when(col("n") <= maxBucketSize, col("n") * (col("n") - 1) / 2).otherwise(0L)),
          sum(when(col("n") > maxBucketSize, col("n")).otherwise(0L)),
          sum(when(col("n") > maxBucketSize, 1L).otherwise(0L))).head()
      s.counts("candidates") = sizes.getDouble(0)
      s.counts("dropped_rows") = sizes.getLong(1).toDouble
      s.counts("dropped_buckets") = sizes.getLong(2).toDouble
    }
    tr.span("dedup.lsh") { s =>
      val obs = Observation("lsh")
      val rows = Observation("rows")
      pairs(ctx, docs, obs).observe(rows, count(lit(1)).as("pairs"))
        .write.mode("overwrite").parquet(pairsDir(out))
      s.counts ++= observed(obs) ++ observed(rows)
    }
    docs.unpersist()
    tr.span("dedup.cluster") { _ =>
      Dedup.duplicateClusters(spark.read.parquet(pairsDir(out)), col("id_a"), col("id_b"))
        .write.mode("overwrite").parquet(clustersDir(out))
    }
  }
}

/** Word 5-shingles as the library defines them (lower-cased, split on
  * whitespace), hashed to sorted distinct longs. */
object Shingles {
  private val IndexOf = """_(\d+)\.[a-z]+@""".r

  def indexOf(id: String): Int = IndexOf.findFirstMatchIn(id)
    .getOrElse(throw new IllegalArgumentException(s"no doc index in id $id")).group(1).toInt

  def of(text: String, k: Int): Array[Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty)
    val grams =
      if (toks.length < k) Iterator(toks.mkString(" "))
      else toks.sliding(k).map(_.mkString(" "))
    grams.map { g =>
      val a = scala.util.hashing.MurmurHash3.stringHash(g, 0x1234)
      val b = scala.util.hashing.MurmurHash3.stringHash(g, 0x5678)
      (a.toLong << 32) | (b.toLong & 0xffffffffL)
    }.toArray.distinct.sorted
  }

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var both = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { both += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    val union = a.length + b.length - both
    if (union == 0) 1.0 else both.toDouble / union
  }
}

object Stats {
  /** P(Binomial(n, p) >= k) */
  def binomTail(n: Int, p: Double, k: Int): Double =
    (k to n).map { i =>
      math.exp(logChoose(n, i) + i * math.log(math.max(p, 1e-300)) +
        (n - i) * math.log(math.max(1 - p, 1e-300)))
    }.sum.min(1.0)

  private def logChoose(n: Int, k: Int): Double =
    (1 to k).map(i => math.log((n - k + i).toDouble / i)).sum

  /** Probability that a graph with independent edge probabilities `q` is
    * connected: P(S) = 1 - sum over proper subsets T of S holding S's
    * first node of P(T) * P(no edge between T and S \ T). */
  def connected(q: Array[Array[Double]]): Double = {
    val n = q.length
    if (n <= 1 || q.forall(_.forall(_ >= 1.0))) return 1.0
    val memo = new Array[Double](1 << n)
    val full = (1 << n) - 1
    def cut(t: Int, s: Int): Double = {
      var p = 1.0
      for (i <- 0 until n if (t >> i & 1) == 1; j <- 0 until n
           if (s >> j & 1) == 1 && (t >> j & 1) == 0) p *= 1 - q(i)(j)
      p
    }
    for (s <- 1 to full) {
      if (Integer.bitCount(s) == 1) memo(s) = 1.0
      else {
        val low = Integer.lowestOneBit(s)
        var acc = 0.0
        var t = (s - 1) & s
        while (t > 0) {
          if ((t & low) != 0) acc += memo(t) * cut(t, s)
          t = (t - 1) & s
        }
        memo(s) = 1 - acc
      }
    }
    memo(full)
  }

  /** Smallest k with P(Poisson(mean) > k) < tail. */
  def poissonQuantile(mean: Double, tail: Double): Int = {
    var k = 0
    var term = math.exp(-mean)
    var cdf = term
    while (1 - cdf >= tail && k < 100000) {
      k += 1; term *= mean / k; cdf += term
    }
    k
  }
}
