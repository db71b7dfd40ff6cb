package perfbench

import graft.sources.CodeDocs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's seeded code corpus: `CodeDocs.makeDoc` documents with
  * planted structure, each at a stated rate. `CodeDocs`' own "every 23rd
  * doc clones doc i-23" rule plants almost no duplicates: doc i-23 is
  * itself a clone slot, so the copied body belongs to no other doc. The
  * one exception is doc 45, whose source, doc 22, is below the first clone
  * slot; the two match when their languages share a comment syntax and
  * neither got a boilerplate line. Every other duplicate here is planted
  * by this generator:
  *
  *  - exact duplicates: `dupRate` of the plain docs copy the content of
  *    another plain doc;
  *  - near-duplicate families: `familyRate` of the docs belong to
  *    families of 2, 3, 4, 5, 6, 2, ... members, each member a 400-word
  *    base text with `familyEdits` word substitutions of its own
  *    (pairwise shingle Jaccard about 0.85);
  *  - one hot family of `hotFamily` exact copies of one 400-word base, so
  *    all of them share each LSH band bucket — more than the default
  *    `maxBucketSize` of 1000. Copies, not edited members: with one edit
  *    each, about a tenth of the members left each band's bucket and
  *    paired up by chance, and the random graph they made took 2 to 4
  *    cluster rounds depending on the seed;
  *  - boilerplate paragraphs: `boilerRate` of the plain docs that are not
  *    duplicates carry one of four 48-word licence lines, split 8:4:2:1,
  *    so the first one's n-grams are shared by about half of those docs.
  *
  * Everything is a pure function of (seed, index); the layout (which
  * index plays which role) is drawn once, in this process, from the seed.
  */
object Corpus {

  val familyWords = 400

  final case class Spec(docs: Int, dupRate: Double, familyRate: Double,
      hotFamily: Int, boilerRate: Double, familyEdits: Int = 3)

  /** Role of each doc index. `family(i)` is -1 for plain docs, 0 for the
    * hot family and k >= 1 for cold family k; `member(i)` numbers the
    * members of a family; `dupOf(i)` is the source index of a planted
    * exact duplicate, or -1; `boiler(i)` the boilerplate variant of a
    * plain doc, or -1. */
  final class Layout(val spec: Spec, val seed: Long, val family: Array[Int],
      val member: Array[Int], val dupOf: Array[Int], val boiler: Array[Int]) extends Serializable {
    def plantedDuplicates: Int = dupOf.count(_ >= 0) + math.max(0, family.count(_ == 0) - 1)
    /** planted duplicates plus CodeDocs' doc 45 when it repeats doc 22 */
    def expectedDuplicates: Int = plantedDuplicates + {
      val plain = Seq(22, 45).forall(i => i < family.length && family(i) < 0 && dupOf(i) < 0)
      if (plain && plainContent(22, this) == plainContent(45, this)) 1 else 0
    }
  }

  /** Every count is exact for a given spec, so seeds move content, not
    * the amount of planted structure. */
  def layout(spec: Spec, seed: Long): Layout = {
    val n = spec.docs
    val rng = new scala.util.Random(CodeDocs.mix(seed, 0x5eedL))
    val order = rng.shuffle((0 until n).toVector)
    val family = Array.fill(n)(-1)
    val member = Array.fill(n)(-1)
    val dupOf = Array.fill(n)(-1)
    val boiler = Array.fill(n)(-1)
    var next = 0
    while (next < math.min(spec.hotFamily, n)) {
      family(order(next)) = 0; member(order(next)) = next; next += 1
    }
    val familyDocs = (spec.familyRate * n).toInt
    var fam = 1
    while (next < math.min(spec.hotFamily + familyDocs, n - 6)) {
      val size = 2 + (fam - 1) % 5
      var m = 0
      while (m < size) {
        family(order(next)) = fam; member(order(next)) = m; m += 1; next += 1
      }
      fam += 1
    }
    val plain = order.drop(next)
    val (dups, sources) = plain.splitAt((spec.dupRate * plain.size).round.toInt)
    if (sources.nonEmpty) dups.foreach(i => dupOf(i) = sources(rng.nextInt(sources.size)))
    // boilerplate variants 0..3 over 15 slots, 8:4:2:1
    val withBoiler = rng.shuffle(sources).take((spec.boilerRate * sources.size).round.toInt)
    withBoiler.zipWithIndex.foreach { case (i, j) =>
      val slot = j * 15 / withBoiler.size
      boiler(i) = if (slot < 8) 0 else if (slot < 12) 1 else if (slot < 14) 2 else 3
    }
    new Layout(spec, seed, family, member, dupOf, boiler)
  }

  private val Boiler: Vector[String] = {
    val words = Vector(
      "licence", "warranty", "copyright", "notice", "permission", "software",
      "distribution", "conditions", "liability", "merchantability", "fitness",
      "purpose", "holders", "contributors", "damages", "express")
    (0 until 4).toVector.map { v =>
      val rng = new scala.util.Random(1000L + v)
      Vector.fill(48)(words(rng.nextInt(words.length))).mkString("// ", " ", "")
    }
  }

  /** Content of a plain doc: CodeDocs content, plus a boilerplate line. */
  private def plainContent(i: Int, lay: Layout): String = {
    val base = CodeDocs.makeDoc(i, lay.seed, lay.spec.docs).content
    if (lay.boiler(i) < 0) base
    else {
      val lines = base.split("\n", -1)
      val h = CodeDocs.mix(lay.seed + 11, i)
      val at = 1 + ((h >>> 8) & 0xffffL).toInt % math.max(1, lines.length - 1)
      (lines.take(at) ++ Seq(Boiler(lay.boiler(i))) ++ lines.drop(at)).mkString("\n")
    }
  }

  /** Base text of family `f`: CodeDocs bodies drawn outside the corpus
    * index range (so no plain doc shares them), cut to exactly
    * `familyWords` words, so every seed plants the same volume. */
  private def familyBase(f: Int, lay: Layout): String = {
    val n = lay.spec.docs.toLong
    val lines = Iterator.from(0).flatMap(k =>
      CodeDocs.makeDoc(n + 1000003L * (f + 1) + k, lay.seed, n).content.split("\n"))
    val out = new StringBuilder
    var words = 0
    while (words < familyWords) {
      // minified lines are one 1500-character word; leaving them out
      // keeps the volume of a family the same on every seed
      val ws = lines.next().split(" ").filter(w => w.nonEmpty && w.length <= 32)
        .take(familyWords - words)
      if (ws.nonEmpty) { out.append(ws.mkString(" ")).append('\n'); words += ws.length }
    }
    out.toString
  }

  /** `edits` word substitutions at seeded positions; each replacement
    * token is unique to (family, member, edit). */
  private def edited(base: String, f: Int, m: Int, edits: Int, seed: Long): String = {
    val lines = base.split("\n", -1).map(_.split(" ", -1))
    val rng = new scala.util.Random(CodeDocs.mix(seed + 17, f.toLong * 1000003L + m))
    var e = 0
    var guard = 0
    while (e < edits && guard < 1000) {
      val l = rng.nextInt(lines.length)
      val ws = lines(l)
      val w = rng.nextInt(ws.length)
      if (ws(w).nonEmpty && ws(w).forall(_.isLetter)) {
        ws(w) = s"edit${f}x${m}x$e"; e += 1
      }
      guard += 1
    }
    lines.map(_.mkString(" ")).mkString("\n")
  }

  def content(i: Int, lay: Layout): String = {
    val f = lay.family(i)
    if (f == 0) familyBase(0, lay)
    else if (f > 0) edited(familyBase(f, lay), f, lay.member(i), lay.spec.familyEdits, lay.seed)
    else if (lay.dupOf(i) >= 0) plainContent(lay.dupOf(i), lay)
    else plainContent(i, lay)
  }

  /** `(id, repo, path, commit, lang, content)`; ids are unique because
    * CodeDocs paths carry the doc index. */
  def generate(spark: SparkSession, lay: Layout): DataFrame = {
    import spark.implicits._
    val n = lay.spec.docs
    // two files per core: every file is its own scan partition at these
    // sizes, so the scan and the stages it feeds run in two even waves
    val slices = math.max(1, math.min(2 * spark.sparkContext.defaultParallelism, n / 100))
    spark.range(0, n, 1, slices).as[Long].map { i =>
      val d = CodeDocs.makeDoc(i, lay.seed, n)
      (d.id, d.repo, d.path, d.commit, d.lang, content(i.toInt, lay))
    }.toDF("id", "repo", "path", "commit", "lang", "content")
  }

  /** Writes the corpus and checks the planted duplicate count by grouping
    * on the exact sha256 of the content: sum(group size - 1) must equal
    * the expected duplicates. Cold family members never collide, since every
    * replacement token is unique. */
  def writeAndCheck(spark: SparkSession, lay: Layout, path: String): Unit = {
    generate(spark, lay).write.mode("overwrite").parquet(path)
    val extra = spark.read.parquet(path)
      .groupBy(sha2(col("content"), 256)).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") - 1)).head()
    val found = if (extra.isNullAt(0)) 0L else extra.getLong(0)
    require(found == lay.expectedDuplicates,
      s"corpus self-check: $found exact duplicates by sha256, expected ${lay.expectedDuplicates}")
  }
}
