package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One call into a layer, with the engine counts of the jobs it ran.
  * Times are nanoseconds since the tracer started. */
final class Span(val id: Int, val name: String, val parent: Int,
    val runId: String, val startNs: Long) {
  var endNs = 0L
  var jobs = 0
  var tasks = 0
  var taskFailures = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var shuffleRecords = 0L
  var spillB = 0L
  var inputB = 0L
  var corpusScanB = 0L
  val actions = mutable.LinkedHashMap.empty[String, Int]
  /** stage id -> (task durations in ms, shuffle bytes read) */
  val stages = mutable.LinkedHashMap.empty[Int, (mutable.ArrayBuffer[Long], Array[Long])]
  /** values the caller measured inside the span (rows, spans, ...) */
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def seconds: Double = (endNs - startNs) / 1e9
  def maxTaskS: Double =
    stages.values.flatMap(_._1).maxOption.getOrElse(0L) / 1e3
  /** max / median task time of the stage that read the most shuffle bytes */
  def shuffleStageSkew: Double = {
    val heavy = stages.values.filter(_._2(0) > 0)
    if (heavy.isEmpty) 0.0
    else {
      val ds = heavy.maxBy(_._2(0))._1.sorted
      val med = ds(ds.size / 2).toDouble
      if (med <= 0) 0.0 else ds.last / med
    }
  }
}

/** Span recorder for the traced run. A `SparkListener` and a
  * `QueryExecutionListener` add task metrics and action counts to the
  * innermost open span; each span runs in its own job group, and the
  * listener bus is drained at both span edges, so every event lands in
  * the span whose call caused it. Spans stay in memory until [[json]]. */
final class Tracer(spark: SparkSession, val runId: String, corpusPath: String)
    extends SparkListener with QueryExecutionListener {
  private val t0 = System.nanoTime()
  private val all = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Option[Span] = None
  private val corpusRoot = new java.io.File(corpusPath).getCanonicalPath

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def spans: Seq[Span] = all.toSeq

  def span[T](name: String)(body: Span => T): (T, Span) = {
    val sc = spark.sparkContext
    Bus.drain(sc)
    val parent = current
    val s = new Span(all.size, name, parent.map(_.id).getOrElse(-1), runId,
      System.nanoTime() - t0)
    all += s
    current = Some(s)
    sc.setJobGroup(s"perfbench-$runId-${s.id}", name)
    try (body(s), s)
    finally {
      s.endNs = System.nanoTime() - t0
      Bus.drain(sc)
      parent match {
        case Some(p) => sc.setJobGroup(s"perfbench-$runId-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
      current = parent
    }
  }

  private def onCurrent(f: Span => Unit): Unit = current.foreach(s => s.synchronized(f(s)))

  override def onJobStart(e: SparkListenerJobStart): Unit = onCurrent(_.jobs += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = onCurrent { s =>
    s.tasks += 1
    if (e.reason != org.apache.spark.Success) s.taskFailures += 1
    val (durs, read) = s.stages.getOrElseUpdate(e.stageId,
      (mutable.ArrayBuffer.empty[Long], Array(0L)))
    durs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      read(0) += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillB += m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onCurrent { s =>
      s.actions(funcName) = s.actions.getOrElse(funcName, 0) + 1
      s.corpusScanB += corpusScanBytes(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onCurrent(s => s.actions(s"failed:$funcName") = s.actions.getOrElse(s"failed:$funcName", 0) + 1)

  /** Bytes of corpus files the plan's scans selected: one full pass per
    * scan of the corpus. Reused exchanges are not descended into, because
    * they do not scan again. */
  private def corpusScanBytes(p: SparkPlan): Long = {
    val here = p match {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(r =>
            new java.io.File(r.toUri.getPath).getCanonicalPath == corpusRoot) =>
        f.metrics.get("filesSize").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    val inner: Seq[SparkPlan] = p match {
      case _: ReusedExchangeExec => Nil
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    here + inner.map(corpusScanBytes).sum
  }

  def json: Json.Raw = Json.arr(all.toSeq.map { s =>
    Json.obj(
      "run_id" -> s.runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
      "jobs" -> s.jobs, "tasks" -> s.tasks, "task_failures" -> s.taskFailures,
      "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
      "shuffle_read_mb" -> s.shuffleReadB / 1e6, "shuffle_write_mb" -> s.shuffleWriteB / 1e6,
      "shuffle_records" -> s.shuffleRecords, "spill_mb" -> s.spillB / 1e6,
      "input_mb" -> s.inputB / 1e6, "corpus_scan_mb" -> s.corpusScanB / 1e6,
      "max_task_s" -> s.maxTaskS, "shuffle_stage_skew" -> s.shuffleStageSkew,
      "actions" -> Json.obj(s.actions.toSeq: _*),
      "counts" -> Json.obj(s.counts.toSeq: _*))
  })
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  final class Raw(val s: String)
  def obj(kv: (String, Any)*): Raw =
    new Raw(kv.map { case (k, v) => s"${str(k)}: ${render(v)}" }.mkString("{", ", ", "}"))
  def arr(vs: Seq[Any]): Raw = new Raw(vs.map(render).mkString("[", ", ", "]"))
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def render(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(String.valueOf(other))
  }
}
