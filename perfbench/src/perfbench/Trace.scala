package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A span: one call the benchmark made into a layer, or one phase of a
  * streaming trigger taken from `StreamingQueryProgress.durationMs`.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job with its task counters summed. `span` is the harness
  * span active on the thread that submitted it (streaming threads inherit
  * it from the thread that started the query); `execution` is its SQL
  * execution, if any; `callSite` is the short call site of its result
  * stage, e.g. `parquet at Tables.scala:19`.
  */
final class JobRecord(val span: Int, val batchId: Long, val execution: Long,
                      val callSite: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var taskMs = 0L
  var narrowTaskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var outputBytes = 0L
  var outputTasks = 0L
  def ms: Double = if (endMs < 0) 0.0 else (endMs - startMs).toDouble
}

/** A SQL execution: its physical plan text tells a sink write (and its
  * target path) from a probe or a read. `nested` is true for an execution
  * started inside another, such as a write inside a streaming batch's own.
  */
final class ExecutionRecord(val plan: String, val nested: Boolean, val startMs: Long) {
  var endMs: Long = -1L
}

/** In-memory trace of the traced run: spans recorded around the
  * benchmark's own calls into each layer, and `SparkListener` job, task
  * and SQL-execution counters tagged with the span that caused them.
  * Nothing is written until [[writeSpans]] at the end of the run.
  */
final class Trace(sc: SparkContext, cores: Int) {
  import Trace.SpanKey

  private val spanBuf = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private val jobBuf = mutable.LinkedHashMap[Int, JobRecord]()
  private val stageJob = mutable.HashMap[Int, (JobRecord, Boolean)]()
  private val execBuf = mutable.HashMap[Long, ExecutionRecord]()
  private var started = 0
  private var ended = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
      val job = new JobRecord(prop(SpanKey).map(_.toInt).getOrElse(-1),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""), e.time)
      jobBuf(e.jobId) = job
      e.stageInfos.foreach(s => stageJob(s.stageId) = (job, s.numTasks < cores))
      started += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobBuf.get(e.jobId).foreach(_.endMs = e.time)
      ended += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for ((job, narrow) <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        job.tasks += 1
        job.taskMs += m.executorRunTime
        if (narrow) job.narrowTaskMs += m.executorRunTime
        job.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        job.spillBytes += m.diskBytesSpilled
        job.peakExecMem = math.max(job.peakExecMem, m.peakExecutionMemory)
        job.outputBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) job.outputTasks += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execBuf(s.executionId) =
            new ExecutionRecord(Option(s.physicalPlanDescription).getOrElse(""),
              s.rootExecutionId.exists(_ != s.executionId), s.time)
        case x: SparkListenerSQLExecutionEnd =>
          execBuf.get(x.executionId).foreach(_.endMs = x.time)
        case _ =>
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as a child span of the current one. Jobs it submits carry
    * the span id as a local property.
    */
  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = Span(spanBuf.size, stack.headOption.getOrElse(-1), name, System.nanoTime(), -1L)
      spanBuf += s
      s
    }
    stack = s.id :: stack
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Add a span timed elsewhere (a streaming trigger or one of its
    * phases); only its duration is meaningful.
    */
  def addSpan(name: String, parent: Int, startNs: Long, ms: Double): Int = synchronized {
    val s = Span(spanBuf.size, parent, name, startNs, startNs + (ms * 1e6).toLong)
    spanBuf += s
    s.id
  }

  /** Wait until every job the listener saw start has ended, so counters
    * are complete (the listener bus is asynchronous).
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    Thread.sleep(200)
    while (synchronized(ended < started) && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200)
  }

  def close(): Unit = { settle(); sc.removeSparkListener(listener) }

  def spans: Seq[Span] = synchronized(spanBuf.toList)
  def jobs: Seq[JobRecord] = synchronized(jobBuf.values.toList)
  def execution(id: Long): Option[ExecutionRecord] = synchronized(execBuf.get(id))

  /** Ids of `roots` and all their descendants. */
  def subtree(roots: Seq[Int]): Set[Int] = {
    val all = spans
    var ids = roots.toSet
    var grown = true
    while (grown) {
      val next = ids ++ all.filter(s => ids.contains(s.parent)).map(_.id)
      grown = next.size > ids.size
      ids = next
    }
    ids
  }

  /** Jobs submitted under any span named `name`, or below one. */
  def jobsUnder(name: String): Seq[JobRecord] = {
    val ids = subtree(spans.filter(_.name == name).map(_.id))
    jobs.filter(j => ids.contains(j.span))
  }

  /** Self time per span name: a span's duration minus its children's. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val all = spans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.size, ss.map(_.ms).sum, ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum)
    }.sortBy(-_._3)
  }

  def writeSpans(file: java.io.File): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"dur_ms":${Trace.fmt(s.ms)}}"""
    }
    java.nio.file.Files.write(file.toPath, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Execution-stage counters over `js`, divided by `ops`. */
  def execMetrics(js: Seq[JobRecord], ops: Double, wallMs: Double): Seq[(String, Double)] = {
    val taskMs = js.map(_.taskMs).sum.toDouble
    Seq(
      "exec.jobs" -> js.size / ops,
      "exec.tasks" -> js.map(_.tasks).sum / ops,
      "exec.task_ms" -> taskMs / ops,
      "exec.narrow_task_ms" -> js.map(_.narrowTaskMs).sum / ops,
      "exec.shuffle_read_mb" -> js.map(_.shuffleReadBytes).sum / 1e6 / ops,
      "exec.shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6 / ops,
      "exec.spill_mb" -> js.map(_.spillBytes).sum / 1e6 / ops,
      "exec.peak_exec_mem_mb" -> (if (js.isEmpty) 0.0 else js.map(_.peakExecMem).max / 1e6),
      "exec.core_util" -> (if (wallMs <= 0) 0.0 else taskMs / (wallMs * cores)))
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
}
