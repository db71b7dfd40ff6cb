package graft

import graft.mixer.PredicateCompiler
import graft.operators.TagRunner
import graft.runtime.Checkpoint
import graft.sources.Jsonl
import graft.taggers.{AbpBlocker, AbpUrlTagger}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class RuntimeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("predicate compiler: jq-shaped predicates over attribute maps") {
    val df = Seq(("a", "This is a test with the and that and have with more words here"),
      ("b", "tiny")).toDF("id", "content")
    val attrs = TagRunner.tag(df, Seq("gopher_v2"), "t", roundScores = false)
    val kept = attrs.filter(PredicateCompiler.compile(
      "$.attributes.t__gopher_v2__word_count[0][2] > 5"))
      .select("id").as[String].collect().toSet
    assert(kept == Set("a"))
    // negative index, field selector, boolean ops, null→false
    val c2 = PredicateCompiler.compile(
      "$.attributes.t__gopher_v2__word_count[-1].score > 5 && !($.attributes.missing__x[0][2] > 0)")
    assert(attrs.filter(c2).select("id").as[String].collect().toSet == Set("a"))
    // bare path truthiness: attribute exists
    val c3 = PredicateCompiler.compile("$.attributes.t__gopher_v2__word_count")
    assert(attrs.filter(c3).count() == 2)
    val c4 = PredicateCompiler.compile("$.attributes.not_there")
    assert(attrs.filter(c4).count() == 0)
  }

  test("checkpoint ledger: resume skips completed work units") {
    val dir = Files.createTempDirectory("graft-ckpt").toString + "/ledger"
    val ckpt = Checkpoint(spark, dir)
    val work = (1 to 10).map(i => s"shard-$i").toDF("key")
    assert(ckpt.pending(work, "key").count() == 10)
    ckpt.commit(Seq("shard-1", "shard-2").toDF("key"), "key", rowsWritten = 100L)
    val pending = ckpt.pending(work, "key").as[String].collect().toSet
    assert(pending == (3 to 10).map(i => s"shard-$i").toSet)
    // idempotent re-commit
    ckpt.commit(Seq("shard-2", "shard-3").toDF("key"), "key", rowsWritten = 50L)
    assert(ckpt.pending(work, "key").count() == 7)
  }

  test("jsonl roundtrip: dolma attribute format preserved") {
    val df = Seq(("d1", "hello world of text")).toDF("id", "content")
    val attrs = TagRunner.tag(df, Seq("char_length_v1"), "e")
    val dir = Files.createTempDirectory("graft-jsonl").toString + "/attrs"
    Jsonl.writeAttributes(attrs, dir)
    val back = Jsonl.readAttributes(spark, dir)
    val spans = back.select(explode(col("attributes"))).as[(String, Seq[(Long, Long, Double)])]
      .collect().toMap
    assert(spans("e__char_length_v1__length") == Seq((0L, 19L, 19.0)))
  }

  test("url blocklist: ABP host-anchor covers the subdomain suffix chain") {
    val t = new AbpUrlTagger("t",
      new AbpBlocker(Seq("||bad.example.com^", "||ads.net^")))
    assert(t.predict("x", Map("url" -> "https://bad.example.com/path?q=1")).nonEmpty)
    assert(t.predict("x", Map("url" -> "http://sub.bad.example.com:8080/x")).nonEmpty)
    assert(t.predict("x", Map("url" -> "https://tracker.ads.net/pixel")).nonEmpty)
    assert(t.predict("x", Map("url" -> "https://good.example.com/")).isEmpty)
    assert(t.predict("x", Map("url" -> "https://example.com/")).isEmpty)
    assert(t.predict("x", Map.empty).isEmpty)
  }

  test("multimodal: feature extraction plumbing over binary payloads") {
    val media = graft.multimodal.Multimodal.syntheticMedia(spark, 30L)
    val feats = graft.multimodal.Multimodal.extractFeatures(media)
    assert(feats.count() == 30)
    val row = feats.filter(col("media_type") === "video").head()
    assert(row.getAs[Int]("n_frames") >= 1)
    assert(row.getAs[scala.collection.Seq[Float]]("embedding").length == 16)
    // deterministic
    val again = graft.multimodal.Multimodal.extractFeatures(media)
    assert(feats.exceptAll(again).count() == 0)
  }

  test("multimodal: ImageIoDecoder really decodes PNGs (dims + luminance)") {
    import graft.multimodal.Multimodal
    val dec = new Multimodal.ImageIoDecoder()
    // a real PNG: 80x48, constant gray 200
    val png = Multimodal.syntheticPng(80, 48, 200)
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a))
    val (w, h, frames, emb) = dec.decode("image", "png", png)
    assert((w, h, frames) == (80, 48, 1))
    // constant gray => every 4x4 grid cell's mean luminance is 200/255
    assert(emb.length == 16)
    emb.foreach(v => assert(math.abs(v - 200f / 255f) < 1e-4f, v.toString))
    // non-gray: left half black, right half white => left cells ~0, right ~1
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = img.createGraphics()
    g2.setColor(java.awt.Color.WHITE); g2.fillRect(32, 0, 32, 64); g2.dispose()
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val (_, _, _, emb2) = dec.decode("image", "png", out.toByteArray)
    Seq(0, 4, 8, 12).foreach(i => assert(emb2(i) < 0.01f))
    Seq(3, 7, 11, 15).foreach(i => assert(emb2(i) > 0.99f))
    // unparseable image payloads and non-image media fall back to the seam
    val junk = Array.tabulate[Byte](32)(_.toByte)
    Seq("image" -> "png", "audio" -> "wav").foreach { case (mt, fmt) =>
      val (aw, ah, af, ae) = dec.decode(mt, fmt, junk)
      val (bw, bh, bf, be) = Multimodal.FakeDecoder.decode(mt, fmt, junk)
      assert((aw, ah, af) == (bw, bh, bf) && ae.toSeq == be.toSeq)
    }
  }

  test("multimodal: hostile WAV header (huge claimed frames) is clamped, not crashed") {
    import graft.multimodal.Multimodal
    val dec = new Multimodal.WavDecoder()
    // a valid WAV truncated to its header + a sliver of data: the header
    // still claims the full frame count, which naive header-trusting
    // segment math would turn into negative array indices
    val full = Multimodal.syntheticWav(8000, Array.fill(32000)(16384.toShort))
    val truncated = full.take(44 + 10) // header + 5 samples
    val (rate, _, frames, emb) = dec.decode("audio", "wav", truncated)
    assert(rate == 8000)
    assert(frames <= 5, s"frames must be clamped to the bytes present: $frames")
    assert(emb.length == 16) // derived from the bytes that exist, no throw
  }

  test("multimodal: sampleFrames validates everyN at the API") {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticMedia(spark, 4L)
    intercept[IllegalArgumentException](Multimodal.sampleFrames(media, 0))
    intercept[IllegalArgumentException](Multimodal.sampleFrames(media, -3))
  }

  test("multimodal: WavDecoder really decodes PCM WAVs (rate/channels/frames + RMS)") {
    import graft.multimodal.Multimodal
    val dec = new Multimodal.WavDecoder()
    // constant amplitude 16384 = half scale -> every segment RMS = 0.5
    val wav = Multimodal.syntheticWav(8000, Array.fill(3200)(16384.toShort))
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val (rate, channels, frames, emb) = dec.decode("audio", "wav", wav)
    assert((rate, channels, frames) == (8000, 1, 3200))
    assert(emb.length == 16)
    emb.foreach(v => assert(math.abs(v - 0.5f) < 1e-4f, v.toString))
    // silence then full-scale: first 8 segments ~0, last 8 ~1
    val half = Array.fill(1600)(0.toShort) ++ Array.fill(1600)(32767.toShort)
    val (_, _, _, emb2) = dec.decode("audio", "wav", Multimodal.syntheticWav(8000, half))
    (0 until 8).foreach(i => assert(emb2(i) < 0.01f))
    (8 until 16).foreach(i => assert(emb2(i) > 0.99f))
    // unparseable audio and non-audio media fall back to the seam
    val junk2 = Array.tabulate[Byte](32)(b => (b * 3).toByte)
    Seq("audio" -> "wav", "video" -> "mp4").foreach { case (mt, fmt) =>
      val (aw, ah, af, ae) = dec.decode(mt, fmt, junk2)
      val (bw, bh, bf, be) = Multimodal.FakeDecoder.decode(mt, fmt, junk2)
      assert((aw, ah, af) == (bw, bh, bf) && ae.toSeq == be.toSeq)
    }
    // the full real chain: image + audio rows both really decoded
    val feats = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(spark, 12L), Multimodal.realDecoder())
    val audio = feats.filter(col("media_type") === "audio").collect()
    assert(audio.nonEmpty)
    audio.foreach { r =>
      assert(r.getAs[Int]("width") == 8000 && r.getAs[Int]("height") == 1)
      assert(r.getAs[Int]("n_frames") >= 1600)
    }
  }

  test("multimodal: VideoFramesDecoder really decodes GRFV frame containers") {
    import graft.multimodal.Multimodal
    val dec = new Multimodal.VideoFramesDecoder()
    // 3 frames of 20x10 constant gray 100/150/200: dims from the decoded
    // raster, embedding = mean luma (100+150+200)/3/255 in every cell
    val container = Multimodal.buildVideoContainer(20, 10,
      Seq(100, 150, 200).map(g => Multimodal.syntheticPng(20, 10, g)))
    val (w, h, frames, emb) = dec.decode("video", "mjpeg", container)
    assert((w, h, frames) == (20, 10, 3))
    emb.foreach(v => assert(math.abs(v - 150f / 255f) < 1e-4f, v.toString))
    // round trip through the parser
    val Some((hw, hh, fs)) = Multimodal.parseVideoContainer(container)
    assert((hw, hh, fs.size) == (20, 10, 3))
    // sampled frames are the REAL PNG bytes, pixel-exact
    val media = Multimodal.syntheticMedia(spark, 9L)
    val sampled = Multimodal.sampleFrames(media, everyN = 4).collect()
    assert(sampled.nonEmpty)
    sampled.foreach { r =>
      val id = r.getString(0).drop(1).toLong
      val f = r.getInt(1)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert((img.getRGB(0, 0) & 0xff) == ((id * 7 + f * 11) % 256).toInt)
    }
    // foreign codecs and truncated containers fall back to the seam
    val junk = Array.tabulate[Byte](40)(b => (b * 5).toByte)
    val (aw, ah, af, ae) = dec.decode("video", "mp4", junk)
    val (bw, bh, bf, be) = Multimodal.FakeDecoder.decode("video", "mp4", junk)
    assert((aw, ah, af) == (bw, bh, bf) && ae.toSeq == be.toSeq)
    val truncated = container.dropRight(5)
    assert(Multimodal.parseVideoContainer(truncated).isEmpty)
  }

  test("streaming: sessionization emits on gap AND on event-time timeout") {
    val dir = Files.createTempDirectory("graft-sess").toString
    Files.createDirectories(java.nio.file.Paths.get(dir, "in"))
    // three single-file batches (maxFilesPerTrigger=1) so the watermark
    // advances BETWEEN batches and the timeout path actually fires
    def writeBatch(n: Int, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val tmp = Files.createTempDirectory(s"graft-sess-b$n").toString + "/w"
      rows.toDF("user_id", "ts").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(dir, "in", f"b$n%02d.parquet")
      Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000L * n))
    }
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // batch 1: user 1 events at 10s/11s; user 2 at 15s (epoch 0 would sit
    // exactly ON the initial watermark and be filtered as late data)
    writeBatch(1, Seq((1L, ts(10)), (1L, ts(11)), (2L, ts(15))))
    // batch 2: user 1 again at 4000s (> 30 min gap -> emits the first
    // session immediately) and user 9 at 7200s (advances the watermark)
    writeBatch(2, Seq((1L, ts(4000)), (9L, ts(7200))))
    // batch 3: keeps the query alive one more micro-batch so the 7200s
    // watermark can fire the timeouts of users 1 and 2
    writeBatch(3, Seq((9L, ts(7201))))
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val sessions = graft.streaming.StreamingTagger.sessionize(stream)
      .toDF("user_id", "session_start", "n_events")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("sessions").as[(Long, Long, Long)].collect().toSet
    // gap-split emission: user 1's first session (2 events from 0s);
    // timeout emissions once the watermark passed last+30min: user 1's
    // second session (1 event at 4000s) and user 2's (1 event at 5s).
    // user 9's session is still open (watermark never passed it).
    assert(out == Set(
      (1L, 10000000L, 2L), (1L, 4000000000L, 1L), (2L, 15000000L, 1L)),
      out.toString)
  }

  test("streaming: fused tagger battery over a stream (AvailableNow)") {
    val dir = Files.createTempDirectory("graft-stream").toString
    Seq(("s1", "hello streaming world"), ("s2", "more text arrives"))
      .toDF("id", "content").write.parquet(dir + "/in")
    val schema = spark.read.parquet(dir + "/in").schema
    val stream = spark.readStream.schema(schema).parquet(dir + "/in")
    val tagged = TagRunner.tag(stream, Seq("char_length_v1"), "s")
    val q = graft.streaming.StreamingTagger.runAvailableNow(tagged, "tagged_stream")
    q.awaitTermination()
    val out = spark.table("tagged_stream")
    assert(out.count() == 2)
    val m = out.filter(col("id") === "s1").head().getMap[String, Any](1)
    assert(m.contains("s__char_length_v1__length"))
  }
}
