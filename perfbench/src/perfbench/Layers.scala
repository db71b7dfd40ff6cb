package perfbench

import graft.operators.TagRunner
import graft.taggers.TaggerRegistry

import org.apache.spark.sql.functions.col

import java.io.File

/** The traced run's per-layer figures. */
object Layers {

  /** The code battery of `SparkEntry.codePipeline`; the per-tagger table
    * covers these. */
  val battery: Seq[String] = CurateCode.taggers

  /** Every per-layer metric, in output order, with its unit. A metric of
    * a layer the workload's pipeline does not reach reads 0. */
  val metrics: Seq[(String, String)] = Seq(
    "operators.tag_s" -> "s", "operators.tag_docs" -> "count", "operators.tagged_per_kept" -> "ratio") ++
    battery.flatMap(t => Seq(s"taggers.$t.us_per_doc" -> "us", s"taggers.$t.spans_per_doc" -> "count")) ++
    Seq("taggers.sum_s" -> "s", "taggers.remainder_frac" -> "ratio",
      "dedup.doc_s" -> "s", "dedup.dup_docs" -> "count",
      "dedup.lsh_s" -> "s", "dedup.lsh_candidates" -> "count", "dedup.lsh_pairs" -> "count",
      "dedup.lsh_pair_yield" -> "ratio", "dedup.lsh_dropped_rows" -> "count",
      "dedup.lsh_dropped_buckets" -> "count", "dedup.lsh_planted_recall" -> "ratio",
      "dedup.lsh_max_task_s" -> "s", "dedup.cluster_s" -> "s", "dedup.cluster_rounds" -> "count",
      "mixer.merge_s" -> "s", "mixer.mix_s" -> "s", "mixer.kept_frac" -> "ratio",
      "mixer.scrub_spans" -> "count", "mixer.join_shuffle_mb" -> "MB",
      "functions.analyze_s" -> "s",
      "sources.scan_s" -> "s", "sources.write_s" -> "s", "sources.write_mb" -> "MB",
      "sources.scan_passes" -> "ratio",
      "runtime.cached_mb_after" -> "MB",
      "spark.jobs" -> "count", "spark.cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.tasks" -> "count", "spark.task_failures" -> "count", "spark.cpu_util" -> "ratio",
      "sources.self_s" -> "s", "operators.self_s" -> "s", "dedup.self_s" -> "s",
      "mixer.self_s" -> "s", "functions.self_s" -> "s",
      "trace.untraced_s" -> "s", "trace.traced_s" -> "s", "trace.overhead_frac" -> "ratio",
      "trace.layer_sum_s" -> "s", "trace.gap_frac" -> "ratio", "trace.unattributed_s" -> "s")

  private def heldMb(sc: org.apache.spark.SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Runs the traced calls through `call` (which times and checks them)
    * and returns every per-layer metric. */
  def report(ctx: Ctx, w: Workload, work: File, out: File, cores: Int,
      call: (=> Unit) => PerfBench.Call): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val m = scala.collection.mutable.LinkedHashMap(metrics.map(_._1 -> 0.0): _*)

    val plain = call(w.run(ctx, out.getPath))
    val tr = new Tracer(spark, s"${w.name}-${ctx.lay.seed}", ctx.corpus)

    // the pipeline as one span: engine totals, single-evaluation counts
    releaseAll(spark)
    var p: Span = null
    val pc = call {
      p = tr.span("pipeline") { s =>
        val before = TagRunner.lastDocsTagged
        w.run(ctx, out.getPath)
        s.counts("cached_mb_after") = heldMb(sc)
        TagRunner.lastDocsTagged.filter(a => !before.exists(_ eq a))
          .foreach(a => s.counts("docs_tagged") = a.value.toDouble)
      }._2
    }
    m("spark.jobs") = p.jobs
    m("spark.cpu_s") = p.cpuNs / 1e9
    m("spark.gc_s") = p.gcMs / 1e3
    m("spark.shuffle_read_mb") = p.shuffleReadB / 1e6
    m("spark.shuffle_write_mb") = p.shuffleWriteB / 1e6
    m("spark.spill_mb") = p.spillB / 1e6
    m("spark.tasks") = p.tasks
    m("spark.task_failures") = p.taskFailures
    m("spark.cpu_util") = p.cpuNs / 1e9 / (p.seconds * cores)
    m("sources.scan_passes") = p.corpusScanB.toDouble / ctx.corpusBytes
    m("runtime.cached_mb_after") = p.counts("cached_mb_after")
    p.counts.get("docs_tagged").foreach { d =>
      m("operators.tag_docs") = d
      pc.checked.notes.get("rows").filter(_ > 0).foreach(r => m("operators.tagged_per_kept") = d / r)
    }
    val untracedS = plain.wallS
    m("trace.untraced_s") = untracedS
    m("trace.traced_s") = p.seconds
    m("trace.overhead_frac") = p.seconds / untracedS - 1

    // the same work decomposed into one span per layer call
    releaseAll(spark)
    var root: Span = null
    val dc = call { root = tr.span("decomposed") { _ => w.layers(ctx, tr, out.getPath) }._2 }
    val children = tr.spans.filter(_.parent == root.id)
    val layerSpans = children.filterNot(_.name.startsWith("probe."))
    def pick(name: String): Seq[Span] = children.filter(_.name == name)
    def one(name: String): Option[Span] = pick(name).headOption
    def secs(name: String) = pick(name).map(_.seconds).sum
    def count(name: String, key: String) = pick(name).flatMap(_.counts.get(key)).sum
    for (layer <- Seq("sources", "operators", "dedup", "mixer", "functions"))
      m(s"$layer.self_s") = layerSpans.filter(_.name.startsWith(layer + ".")).map(_.seconds).sum
    m("trace.layer_sum_s") = layerSpans.map(_.seconds).sum
    m("trace.gap_frac") = (m("trace.layer_sum_s") - untracedS) / untracedS
    m("trace.unattributed_s") = root.seconds - children.map(_.seconds).sum

    m("sources.scan_s") = secs("sources.scan")
    m("sources.write_s") = secs("sources.write")
    m("sources.write_mb") = count("sources.write", "bytes") / 1e6
    m("operators.tag_s") = secs("operators.tag")
    m("dedup.doc_s") = secs("dedup.doc")
    m("dedup.dup_docs") = count("dedup.doc", "dup_docs")
    m("dedup.lsh_s") = secs("dedup.lsh")
    m("dedup.lsh_candidates") = count("probe.lsh_buckets", "candidates")
    m("dedup.lsh_pairs") = count("dedup.lsh", "pairs")
    if (m("dedup.lsh_candidates") > 0)
      m("dedup.lsh_pair_yield") = m("dedup.lsh_pairs") / m("dedup.lsh_candidates")
    m("dedup.lsh_dropped_rows") = count("dedup.lsh", "dropped_rows")
    m("dedup.lsh_dropped_buckets") = count("dedup.lsh", "dropped_buckets")
    m("dedup.lsh_max_task_s") = one("dedup.lsh").map(_.maxTaskS).getOrElse(0.0)
    dc.checked.notes.get("planted_recall").foreach(m("dedup.lsh_planted_recall") = _)
    m("dedup.cluster_s") = secs("dedup.cluster")
    one("dedup.cluster").foreach(s =>
      m("dedup.cluster_rounds") = s.actions.getOrElse("localCheckpoint", 0) - 1)
    m("mixer.merge_s") = secs("mixer.merge")
    m("mixer.join_shuffle_mb") = pick("mixer.merge").map(_.shuffleWriteB / 1e6).sum
    m("mixer.mix_s") = secs("mixer.mix")
    m("mixer.scrub_spans") = count("mixer.mix", "scrub_spans")
    val writes = pick("sources.write").size
    if (writes > 0) m("mixer.kept_frac") = count("sources.write", "rows") / (ctx.docs * writes)
    m("functions.analyze_s") = secs("functions.analyze")
    tr.close()
    releaseAll(spark)

    // per-tagger cost, single-threaded on a fixed sample, where the
    // workload tags; its estimate of the battery's wall time uses the docs
    // the tag span tagged
    val tagDocs = count("operators.tag", "docs_tagged")
    if (tagDocs > 0) {
      val sample = spark.read.parquet(ctx.corpus).orderBy(col("id")).limit(400)
        .select("content").collect().map(_.getString(0))
      val sumS = battery.map { name =>
        val t = TaggerRegistry.resolve(name)
        sample.foreach(t.predict(_))
        var reps = 0
        var spans = 0L
        val t0 = System.nanoTime()
        while (reps < 3 || System.nanoTime() - t0 < 250000000L) {
          sample.foreach(d => spans += t.predict(d).size)
          reps += 1
        }
        val usPerDoc = (System.nanoTime() - t0) / 1e3 / (reps * sample.length)
        m(s"taggers.$name.us_per_doc") = usPerDoc
        m(s"taggers.$name.spans_per_doc") = spans.toDouble / (reps * sample.length)
        usPerDoc * tagDocs / 1e6 / cores
      }.sum
      m("taggers.sum_s") = sumS
      m("taggers.remainder_frac") = 1 - sumS / m("operators.tag_s")
    }

    val traceFile = new File(work, "trace.json")
    java.nio.file.Files.writeString(traceFile.toPath, tr.json.s)
    System.err.println(s"[perfbench] spans written to $traceFile")
    metrics.map { case (n, u) => (n, m(n), u) }
  }
}
