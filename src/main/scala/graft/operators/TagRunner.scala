package graft.operators

import graft.core.{Attributes, SpanTriple}
import graft.taggers.TaggerRegistry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.sql.Row

/** The tagging stage: runs a configured battery of taggers fused inside a
  * single narrow `mapPartitions` pass over the corpus — the Spark
  * re-expression of the reference's per-file tagger processor
  * (/root/reference/python/dolma/core/runtime.py:240-344). One scan, no
  * shuffle; taggers are instantiated once per partition (mirroring dolma's
  * once-per-process model init, runtime.py:260) and each document flows
  * through every tagger before the next document is read.
  *
  * Output schema matches the reference attribute row
  * (data_types.py:36-39): `id string, attributes map<string,
  * array<struct<start:long, end:long, score:double>>>` with the reference
  * name mangling `exp__tagger__type` (runtime.py:214-217) and score
  * rounding to 5 decimals (core/taggers.py:22,49).
  */
object TagRunner {

  /** Set by each [[battery]] pass (tag, withAttributes, a WARC phase):
    * accumulator counting the documents that flowed through it. Test hook for
    * single-evaluation assertions (task retries can overcount on a real
    * cluster; exact in local mode). */
  @volatile var lastDocsTagged: Option[org.apache.spark.util.LongAccumulator] = None

  private def newDocCounter(spark: org.apache.spark.sql.SparkSession) = {
    val acc = spark.sparkContext.longAccumulator("graft.docs_tagged")
    lastDocsTagged = Some(acc)
    acc
  }

  val spanTripleType: DataType =
    ArrayType(StructType(Seq(
      StructField("start", LongType, nullable = false),
      StructField("end", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))))

  def attrSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("attributes", MapType(StringType, spanTripleType), nullable = false)))

  /** Tag `df` (must have `idCol`, `textCol`; metadata columns are passed to
    * taggers as strings). Returns `(id, attributes)` rows: the [[battery]]
    * over `select(id, text, meta…)`, projected to [[attrSchema]]. */
  def tag(
      df: DataFrame,
      taggerNames: Seq[String],
      experiment: String,
      idCol: String = "id",
      textCol: String = "content",
      metaCols: Seq[String] = Nil,
      roundScores: Boolean = true,
      taggerModules: Seq[String] = Nil): DataFrame = {
    // attrSchema's id is a non-null string
    val id = Bridge.toColumn(AssertNotNull(Bridge.toExpr(col(idCol).cast(StringType))))
    val in = df.select(id.as("id") +: (textCol +: metaCols).map(col): _*)
    battery(in, taggerNames.map(_ -> experiment), textCol, metaCols, roundScores,
      "attributes", taggerModules)
      .select("id", "attributes")
  }

  /** Append the attribute map as a column IN PLACE (no separate attribute
    * table, no join): the fused form for pipelines that tag and mix in one
    * run. Attributes are per-row, so computing them inline turns
    * tag→join→mix (two sort shuffles of fat rows) into a single narrow
    * pass — the dedup window stays the pipeline's only shuffle. */
  def withAttributes(
      df: DataFrame,
      taggerNames: Seq[String],
      experiment: String,
      textCol: String = "content",
      metaCols: Seq[String] = Nil,
      roundScores: Boolean = true,
      outputCol: String = "attributes",
      taggerModules: Seq[String] = Nil): DataFrame =
    battery(df, taggerNames.map(_ -> experiment), textCol, metaCols, roundScores,
      outputCol, taggerModules)

  /** The one tagging pass behind [[tag]], [[withAttributes]] and the WARC
    * phases: every row of `df` gains `outputCol`, its attribute map, in a
    * single narrow `mapPartitions`. `pairs` match each tagger name with
    * the experiment its keys mangle under — one experiment for a
    * configured run, the tagger's own name for WARC (processor.py:194-197).
    * Spans of a key emitted twice in one battery are concatenated. */
  private[graft] def battery(
      df: DataFrame,
      pairs: Seq[(String, String)],
      textCol: String,
      metaCols: Seq[String],
      roundScores: Boolean,
      outputCol: String,
      taggerModules: Seq[String]): DataFrame = {
    val inputSchema = df.schema
    val textIdx = inputSchema.fieldIndex(textCol)
    val metaIdx = metaCols.map(inputSchema.fieldIndex)
    val outEnc = RowEncoder.encoderFor(inputSchema.add(StructField(outputCol,
      MapType(StringType, spanTripleType), nullable = false)))
    val docCounter = newDocCounter(df.sparkSession)

    df.mapPartitions { rows =>
      // per-partition tagger instantiation: compiled regexes / model
      // weights are built once per task, not per row; user modules load
      // in THIS executor JVM before any name resolves
      TaggerRegistry.importModules(taggerModules)
      val taggers = pairs.map { case (t, exp) => (TaggerRegistry.resolve(t), exp) }
      rows.map { row =>
        docCounter.add(1L)
        val text = if (row.isNullAt(textIdx)) "" else row.getString(textIdx)
        val meta = metaCols.zip(metaIdx).map { case (m, i) =>
          m -> (if (row.isNullAt(i)) "" else row.get(i).toString)
        }.toMap
        Row.fromSeq(row.toSeq :+ tagRow(taggers, text, meta, roundScores))
      }
    }(outEnc)
  }

  /** One document through the resolved battery: predict, group by span
    * type, mangle keys, round scores. */
  private def tagRow(taggers: Seq[(graft.taggers.Tagger, String)], text: String,
      meta: Map[String, String], round: Boolean): Map[String, Seq[Row]] = {
    val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[SpanTriple]]
    taggers.foreach { case (t, exp) =>
      t.predict(text, meta).groupBy(_.typ).foreach { case (typ, ss) =>
        val key = Attributes.mangle(exp, t.name, typ)
        val triples = ss.map(s => SpanTriple(s.start, s.end,
          if (round) Attributes.roundScore(s.score) else s.score))
        attrs.update(key, attrs.getOrElse(key, Seq.empty) ++ triples)
      }
    }
    attrs.map { case (k, v) =>
      k -> v.map(t => Row(t.start, t.end, t.score))
    }.toMap
  }

  /** Flatten an attribute map to long format `(id, attr, start, end,
    * score)` — the analyzer-friendly shape. */
  def explodeAttributes(attrs: DataFrame): DataFrame =
    attrs
      .select(col("id"), explode(col("attributes")).as(Seq("attr", "spans")))
      .select(col("id"), col("attr"), explode(col("spans")).as("span"))
      .select(col("id"), col("attr"),
        col("span.start").as("start"), col("span.end").as("end"),
        col("span.score").as("score"))

  /** Column helper: the score of the first span of attribute `name`. */
  def attrScore(name: String): Column =
    element_at(element_at(col("attributes"), name), 1).getField("score")

  /** Column helper: all spans of attribute `name` (null-safe empty). */
  def attrSpans(name: String): Column =
    coalesce(element_at(col("attributes"), name), array())
}
