package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

/** The benchmark process: one workload, one seed, one closed loop.
  *
  * {{{
  * PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --work <dir> [--tiny] [--expected <file>]
  * }}}
  *
  * Set-up (session start, corpus generation with its self-check, the
  * workload's warm-up calls) is timed as `setup_s`. With `--trace 0` the
  * calls then run back to back, untraced, for `--seconds` (at least five),
  * each checked; the last stdout line is the end-to-end result. With
  * `--trace 1` the run reports per-layer figures: an untraced call, the
  * same call with the tracer attached, one call decomposed into per-layer
  * spans, and (where the workload tags) the per-tagger cost table; the
  * spans are written to `<work>/trace.json` at the end. */
object PerfBench {

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def processCpuS(): Double = cpuBean.getProcessCpuTime / 1e9

  /** Bytes of data files under `dir` (Spark's `_` and `.` files excluded). */
  def persistedBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) {
      if (dir.getName.startsWith("_") || dir.getName.startsWith(".")) 0L else dir.length()
    } else Option(dir.listFiles()).toSeq.flatten.map(persistedBytes).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap occupancy after a full GC. The first GC lets Spark's cleaner
    * release the blocks of RDDs that are no longer referenced; the second,
    * after a short pause, reclaims them, so the figure does not depend on
    * when the cleaner thread ran. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  final case class Call(wallS: Double, cpuS: Double, persisted: Long, heapMb: Double,
      checked: Checked)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val tiny = args.contains("--tiny")
    val w = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getCanonicalFile
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session graft.Main builds, on a local master
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // the traced run's cached layer inputs keep AQE's coalesced
      // partitions instead of 200 shuffle partitions; the program itself
      // caches no DataFrame on these paths
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // bounded status history, so a long loop's heap does not grow with it
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      // traced runs keep every block the program does not release itself,
      // so runtime.cached_mb_after does not depend on when a GC ran
      .config("spark.cleaner.referenceTracking", (!traced).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = since(t0)

    val spec = w.spec(tiny)
    val genT = System.nanoTime()
    val lay = Corpus.layout(spec, seed)
    val corpus = new File(work, "corpus").getPath
    Corpus.writeAndCheck(spark, lay, corpus)
    val genS = since(genT)
    val sizes = spark.read.parquet(corpus)
      .selectExpr("sum(octet_length(content))", "collect_list(id)").head()
    val ids = new java.util.HashSet[String](sizes.getList[String](1))
    val expected = opts.get("expected").flatMap(f => Expected.digest(new File(f), w.name, seed, spec.docs))
    val ctx = new Ctx(spark, lay, corpus, persistedBytes(new File(corpus)), sizes.getLong(0), ids)
    w.prepare(ctx)

    val out = new File(work, "out")
    val calls = ArrayBuffer.empty[Call]
    def call(body: => Unit): Call = {
      deleteTree(out)
      val c0 = processCpuS()
      val t = System.nanoTime()
      val error = try { body; None } catch { case e: Exception => Some(e) }
      val wall = since(t)
      val cpu = processCpuS() - c0
      val checked = error match {
        case Some(e) => Checked(ok = false, "", s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case None =>
          try w.check(ctx, out.getPath)
          catch { case e: Exception => Checked(ok = false, "", s"check threw: ${e.getMessage}") }
      }
      // the digest is the committed one for the default seed, and repeats
      // across the calls of a run on any seed
      val firstDigest = calls.headOption.map(_.checked.digest).filter(_.nonEmpty)
      val agreed =
        if (checked.ok && expected.exists(_ != checked.digest))
          checked.copy(ok = false, why = s"digest ${checked.digest} differs from the committed one")
        else if (checked.ok && firstDigest.exists(_ != checked.digest))
          checked.copy(ok = false, why = s"digest ${checked.digest} differs from this run's first")
        else checked
      val c = Call(wall, cpu, persistedBytes(out), liveHeapMb(), agreed)
      calls += c
      c
    }

    // warm-up: unchecked calls, as many as call time takes to settle, so
    // that code generation and the JIT's work are done before the first
    // timed call
    val warmT = System.nanoTime()
    val warm = (0 until w.warmCalls).map { _ =>
      deleteTree(out)
      val t = System.nanoTime()
      w.run(ctx, out.getPath)
      since(t)
    }
    val warmS = since(warmT)
    val setupS = since(t0)
    System.err.println(f"[perfbench] ${w.name} seed=$seed docs=${spec.docs} " +
      f"setup=$setupS%.2fs (session $sessionS%.2fs, corpus $genS%.2fs, warm-up $warmS%.2fs: " +
      warm.map(x => f"$x%.2f").mkString(" ") + ")")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val start = System.nanoTime()
        val timed = ArrayBuffer.empty[Call]
        while (timed.size < 5 || since(start) < seconds) timed += call(w.run(ctx, out.getPath))
        timed.foreach(c => System.err.println(
          f"[perfbench] call ${c.wallS}%.3fs cpu ${c.cpuS}%.2fs heap ${c.heapMb}%.0fMB ${c.checked.why}"))
        val wall = median(timed.map(_.wallS).toSeq)
        Seq(
          ("docs_per_s", ctx.docs / wall, "1/s"),
          ("mb_per_s", ctx.contentBytes / 1e6 / wall, "MB/s"),
          ("cpu_s_per_kdoc", median(timed.map(_.cpuS).toSeq) / (ctx.docs / 1000.0), "s"),
          ("live_heap_peak_mb", calls.map(_.heapMb).max, "MB"),
          ("write_amp", median(timed.map(_.persisted.toDouble).toSeq) / ctx.corpusBytes, "ratio"),
          ("setup_s", setupS, "s"))
      } else Layers.report(ctx, w, work, out, cores, call)

    val attempted = calls.size
    val failed = calls.count(!_.checked.ok)
    calls.headOption.foreach(c => System.err.println(s"[perfbench] digest ${c.checked.digest}"))
    calls.filterNot(_.checked.ok).map(_.checked.why).distinct
      .foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    spark.stop()
    val line = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*))
    println(line.s)
  }
}

/** Digests committed for the default seed, per workload and corpus size. */
object Expected {
  def digest(file: File, workload: String, seed: Long, docs: Int): Option[String] =
    if (!file.exists()) None
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
      Option(root.get(workload))
        .filter(n => n.get("seed").asLong() == seed && n.get("docs").asInt() == docs)
        .map(_.get("digest").asText())
    }
}
