package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-exact dedup attribute emission
  * (/root/reference/src/deduper.rs:232-519): reproduces the deduper's
  * observable output — `{id, attributes: {name: [[start,end,score]...]}}`
  * span lists — with the sequential Bloom filter replaced by a global
  * first-occurrence window over (file order, paragraph index, ngram
  * index). Exact (no false positives); ordering-equivalent to the
  * reference's probe-then-insert walk.
  *
  * Quirks mirrored on purpose:
  *  - paragraph offset bookkeeping counts chars but compares against the
  *    BYTE length for the trailing-newline adjustment
  *    (deduper.rs:326-331: `if offset < text_length - 1`)
  *  - the ngram stride loop always takes the first TWO window positions
  *    (`last_ngram_start == 0 ||` …, deduper.rs:393-397)
  *  - paragraphs with fewer than 2 selected ngrams fall back to
  *    whole-paragraph comparison, emitting score 0.0/1.0 gated by the
  *    overlap threshold (deduper.rs:421-452)
  */
object ReferenceDedup {

  final case class Para(id: String, ord: Long, idx: Int, start: Long, end: Long, text: String)
  final case class Gram(id: String, ord: Long, idx: Int, start: Long, end: Long,
      gramIdx: Int, key: String, isFallback: Boolean)

  /** Doc-level dedup by key (deduper.rs:232-305): duplicate docs get span
    * `[0, len(key), 1]`. Returns (id, spans). */
  def docDupSpans(df: DataFrame, idCol: Column, keyCol: Column, ordCol: Column): DataFrame = {
    val w = Window.partitionBy(col("__key")).orderBy(col("__ord"))
    df.select(idCol.as("id"), keyCol.as("__key"), ordCol.as("__ord"))
      .withColumn("__dup", col("__key").isNotNull && row_number().over(w) > 1)
      .select(col("id"),
        when(col("__dup"),
          array(struct(lit(0L).as("start"),
            length(col("__key")).cast("long").as("end"),
            lit(1.0).as("score"))))
          .otherwise(array().cast("array<struct<start:bigint,end:bigint,score:double>>"))
          .as("spans"))
  }

  /** UAX-29 word tokens matching Rust split_word_bounds
    * (wimbd/tokens.rs:11-20): ICU4J BreakIterator (ships with Spark),
    * whitespace-only segments dropped. */
  def unisegTokens(s: String): Vector[String] = {
    if (s.isEmpty) return Vector.empty
    val bi = com.ibm.icu.text.BreakIterator.getWordInstance(java.util.Locale.ROOT)
    bi.setText(s)
    val out = Vector.newBuilder[String]
    var start = bi.first()
    var end = bi.next()
    while (end != com.ibm.icu.text.BreakIterator.DONE) {
      val seg = s.substring(start, end)
      if (seg.exists(c => !Character.isWhitespace(c))) out += seg
      start = end
      end = bi.next()
    }
    out.result()
  }

  /** Reference paragraph walk with exact offset bookkeeping. */
  def splitParas(id: String, ord: Long, text: String): Seq[Para] = {
    if (text.isEmpty) return Seq.empty
    val byteLen = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    var offset = 0L
    text.split("\n", -1).zipWithIndex.map { case (p, i) =>
      val parStart = offset
      val chars = p.codePointCount(0, p.length)
      offset += chars
      if (offset < byteLen - 1) offset += 1 // the newline (byte/char quirk)
      Para(id, ord, i, parStart, offset, p)
    }.toSeq
  }

  /** Whole-paragraph dedup (deduper.rs:354-379): spans for re-seen
    * paragraph texts. Returns (id, spans) covering every doc. */
  def paragraphDupSpans(df: DataFrame, idCol: Column, textCol: Column,
      ordCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val paras = df.select(idCol.as("id"), textCol.as("text"), ordCol.as("ord"))
      .as[(String, String, Long)]
      .flatMap { case (id, text, ord) => splitParas(id, ord, text) }
      // 96-bit hash key computed before the exchange: the paragraph text
      // itself is pruned out of the shuffle (nothing downstream reads it)
      .withColumn("__h1", xxhash64($"text")).withColumn("__h2", hash($"text"))
      .drop("text")
    val w = Window.partitionBy($"__h1", $"__h2").orderBy($"ord", $"idx")
    val marked = paras.withColumn("dup", row_number().over(w) > 1)
    collectSpans(df, idCol, marked.filter($"dup")
      .select($"id", $"start", $"end", lit(1.0).as("score"), $"idx"))
  }

  /** N-gram-overlap paragraph dedup (deduper.rs:380-466). */
  def ngramDupSpans(df: DataFrame, idCol: Column, textCol: Column, ordCol: Column,
      ngramLength: Int, stride: Int, overlapThreshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = ngramLength
    val grams = df.select(idCol.as("id"), textCol.as("text"), ordCol.as("ord"))
      .as[(String, String, Long)]
      .flatMap { case (id, text, ord) =>
        splitParas(id, ord, text).flatMap { p =>
          val toks = unisegTokens(p.text)
          val selected = Vector.newBuilder[Gram]
          var last = 0
          var gi = 0
          var wi = n - 1
          while (wi < toks.length) {
            val start = wi - (n - 1)
            if (last == 0 || start - last >= stride) {
              last = start
              selected += Gram(p.id, p.ord, p.idx, p.start, p.end, gi,
                toks.slice(start, start + n).mkString("\u0000"), isFallback = false)
              gi += 1
            }
            wi += 1
          }
          val gs = selected.result()
          if (gs.length < 2)
            // too few ngrams: whole-paragraph fallback (separate key space)
            Vector(Gram(p.id, p.ord, p.idx, p.start, p.end, 0, "P\u0001" + p.text,
              isFallback = true))
          else gs
        }
      }
    // hash-keyed window: gram strings (≈ n tokens each, exploded per
    // window position) would otherwise dominate shuffle bytes at scale
    val hashed = grams
      .withColumn("__h1", xxhash64($"key")).withColumn("__h2", hash($"key"))
      .drop("key")
    val w = Window.partitionBy($"isFallback", $"__h1", $"__h2")
      .orderBy($"ord", $"idx", $"gramIdx")
    val marked = hashed.withColumn("dup", row_number().over(w) > 1)
    val perPara = marked.groupBy($"id", $"idx", $"start", $"end", $"isFallback")
      .agg(count(lit(1)).as("total"), sum(when($"dup", 1).otherwise(0)).as("dups"))
      .withColumn("score",
        when($"isFallback", when($"dups" > 0, 1.0).otherwise(0.0))
          // f32 division quirk: the reference computes the fraction in f32
          .otherwise(($"dups".cast("float") / $"total".cast("float")).cast("double")))
      .filter($"score" >= overlapThreshold)
    collectSpans(df, idCol,
      perPara.select($"id", $"start", $"end", $"score", $"idx"))
  }

  /** Paragraphs keyed for cross-run Bloom probing — the reference
    * deduper's paragraphs + bloom_filter mode (deduper.rs:306-379, with
    * the BFF as persisted state instead of the in-run window): one row
    * per paragraph with its exact span (same offset bookkeeping as
    * [[paragraphDupSpans]]) and a 128-bit text-hash key. The text itself
    * is dropped before any exchange — only 16-byte keys and offsets
    * shuffle at 100 TB. `is_empty` lets the caller honor the reference's
    * `skip_empty` config without re-reading the text. */
  def paragraphKeyRows(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(idCol.cast("string").as("id"), textCol.as("text"))
      .as[(String, String)]
      .flatMap { case (id, text) => splitParas(id, 0L, text) }
      .select(col("id"), col("idx"), col("start"), col("end"),
        concat_ws(":", xxhash64(col("text")).cast("string"),
          hash(col("text")).cast("string")).as("key"),
        (length(col("text")) === 0).as("is_empty"))
  }

  /** Assemble per-doc ordered span arrays, keeping docs with no spans. */
  private def collectSpans(df: DataFrame, idCol: Column, spans: DataFrame): DataFrame = {
    val agg = spans
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("idx"), col("start"), col("end"), col("score"))))
        .as("sorted"))
      .select(col("id"),
        transform(col("sorted"), s => struct(
          s.getField("start").as("start"), s.getField("end").as("end"),
          s.getField("score").as("score"))).as("spans"))
    df.select(idCol.as("id")).distinct()
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("spans"),
          array().cast("array<struct<start:bigint,end:bigint,score:double>>")).as("spans"))
  }
}
