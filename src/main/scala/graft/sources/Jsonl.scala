package graft.sources

import graft.operators.TagRunner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dolma-format JSONL ingestion/egress
  * (/root/reference/docs/data-format.md:10-106): documents as
  * `{id, text, source, created, added, version, metadata?}` one JSON per
  * line, gz/zst inferred from extension; attribute files as
  * `{id, attributes: {name: [[start,end,score],...]}}`.
  *
  * Spark's text/json sources handle compression codecs by extension the
  * same way the reference does (src/io.rs:126-168); zstd is built into
  * Hadoop 3 / Spark 4. Schemas are declared explicitly so the reader
  * prunes and never schema-infers (one pass, no sampling scan).
  */
object Jsonl {

  val documentSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("created", StringType),
    StructField("added", StringType),
    StructField("version", StringType),
    StructField("metadata", MapType(StringType, StringType))))

  val attributeSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("source", StringType),
    StructField("attributes",
      MapType(StringType, ArrayType(ArrayType(DoubleType))))))

  /** Read a documents tree (dataset/documents glob). */
  def readDocuments(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(documentSchema).json(paths: _*)

  /** Read an attributes tree; triples `[start,end,score]` arrive as
    * double arrays and are restructured to the engine's span structs. */
  def readAttributes(spark: SparkSession, paths: String*): DataFrame = {
    spark.read.schema(attributeSchema).json(paths: _*)
      .select(col("id"),
        transform_values(col("attributes"), (_, spans) =>
          transform(spans, t => struct(
            t.getItem(0).cast("long").as("start"),
            t.getItem(1).cast("long").as("end"),
            t.getItem(2).as("score")))).as("attributes"))
  }

  /** Write attribute rows (TagRunner output) back to dolma JSONL format:
    * span structs → [start,end,score] triples. Compression by codec
    * option (gzip/zstd), target shard size via maxRecordsPerFile. */
  def writeAttributes(attrs: DataFrame, path: String,
      codec: String = "gzip", maxRecordsPerFile: Long = 0L): Unit = {
    val triples = attrs.select(col("id"),
      transform_values(col("attributes"), (_, spans) =>
        transform(spans, s => array(
          s.getField("start").cast("double"),
          s.getField("end").cast("double"),
          s.getField("score")))).as("attributes"))
    val w = triples.write.mode("overwrite").option("compression", codec)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
      .json(path)
  }

  /** Write documents in dolma format. */
  def writeDocuments(docs: DataFrame, path: String, codec: String = "gzip",
      mode: org.apache.spark.sql.SaveMode = org.apache.spark.sql.SaveMode.Overwrite,
      maxRecordsPerFile: Long = 0L): Unit = {
    val w = docs.write.mode(mode).option("compression", codec)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
      .json(path)
  }
}
