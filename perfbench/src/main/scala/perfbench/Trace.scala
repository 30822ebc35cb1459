package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory spans: (name, start, end, parent, run id). Written out once, when
  * the run ends. With tracing off every call is a plain pass-through, so the
  * untraced run measures the same code path without the bookkeeping.
  */
final class Tracer(val on: Boolean, runId: String) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Span duration minus the part of it that its direct children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((ks, ke) <- kids) {
      if (ks > curE) { covered += curE - curS; curS = ks; curE = ke }
      else curE = math.max(curE, ke)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs) - covered
  }

  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"run":"$runId","name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${selfNs(s) / 1e9}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long)
}

/** Spark-side counters for the traced run. Jobs are charged to the harness
  * phase that was open when they started (build / plan / run / other) and to
  * the innermost `graft.<module>` frame of their call site.
  */
final class Recorder extends SparkListener {
  @volatile var phase: String = "other"

  val modules: Seq[String] = Seq("queries", "pipelines", "sources", "operators", "anomaly",
    "ml", "vector", "agent", "llmops", "streaming")
  private val frame = ("^\\s*(?:at\\s+)?graft\\.(" + modules.mkString("|") + ")\\.").r

  // every field is only touched under `this` lock: the listener bus thread
  // writes, the harness thread snapshots
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, (Long, String, String)]

  def snapshot(): Map[String, Double] = synchronized(counts.toMap)

  private def add(k: String, v: Double): Unit = counts(k) += v

  def moduleOf(callSite: String): String =
    callSite.linesIterator.collectFirst { case l if frame.findFirstMatchIn(l).isDefined =>
      frame.findFirstMatchIn(l).get.group(1)
    }.getOrElse("")

  // SQL execution id -> module of the action that started it: jobs run from
  // AQE and broadcast threads carry no graft frame of their own
  private val execModule = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      execModule(s.executionId) = moduleOf(s.details)
    }
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd => synchronized {
      execModule.remove(s.executionId)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("callSite.long"))).filter(_.nonEmpty)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    val viaExec = Seq("spark.sql.execution.root.id", "spark.sql.execution.id").iterator
      .flatMap(k => props.flatMap(p => Option(p.getProperty(k))))
      .flatMap(id => execModule.get(id.toLong)).find(_.nonEmpty)
    val own = moduleOf(site)
    jobStart(e.jobId) = (e.time, phase, if (own.nonEmpty) own else viaExec.getOrElse(""))
    add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, ph, m) =>
      val s = (e.time - t0) / 1e3
      add(s"phase.$ph.jobs", 1)
      add(s"phase.$ph.job_s", s)
      if (m.nonEmpty) { add(s"$m.jobs", 1); add(s"$m.job_s", s) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.stages", 1)
  }

  /** Largest single-task peak execution memory since the last call (MB). */
  def takePeakMb(): Double = synchronized { val p = peakMb; peakMb = 0.0; p }
  private var peakMb = 0.0

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    if (e.reason != org.apache.spark.Success) add("spark.failed_tasks", 1)
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      add("spark.task_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("spark.shuffle_read_mb",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1048576.0)
      add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      peakMb = math.max(peakMb, m.peakExecutionMemory / 1048576.0)
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      add("spark.sched_delay_s", math.max(0L, sched) / 1e3)
    }
  }
}
