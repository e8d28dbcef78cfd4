package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Settings of one run, from the command line `run.py` passes. */
final case class RunConf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                         cores: Int, work: File, fixtures: String,
                         fingerprints: String) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** What a run measured and checked. Every operation and every check
  * counts once in `attempted`; a failed one also counts in `failed`.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val lines: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()
  val endToEnd: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap[String, Double]()
  val perLayer: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(Report.layerMetrics.map(_ -> 0.0): _*)

  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) failed += 1
    lines += s"check $name ${if (ok) "ok" else "FAILED"}: $detail"
  }

  def note(line: String): Unit = lines += line

  /** Print a timing sample set: median, the highest percentile with at
    * least ten samples beyond it (when the sample supports one), and n.
    */
  def timing(name: String, unit: String, xs: Seq[Double]): Unit = {
    val tail = Stats.tail(xs).map { case (p, v) => s", p$p ${Trace.fmt(v)}" }
      .getOrElse(" (no tail: fewer than 11 samples)")
    val all = if (xs.size <= 10) xs.map(x => f"$x%.4g").mkString(" [", " ", "]") else ""
    note(s"timing $name median ${Trace.fmt(Stats.median(xs))} $unit$tail, n=${xs.size}$all")
  }

  def layer(kv: (String, Double)*): Unit = kv.foreach { case (k, v) =>
    require(perLayer.contains(k), s"undeclared per-layer metric $k")
    perLayer(k) = v
  }
}

object Report {
  /** Per-layer metrics, in BENCHMARK.json order. A workload that never
    * enters a layer reports 0 for it.
    */
  val layerMetrics: Seq[String] = Seq(
    "tables.infer_jobs", "tables.read_ms", "tables.query_infer_jobs", "tables.query_infer_ms",
    "entry.build_ms", "entry.eager_jobs", "entry.eager_task_ms",
    "catalyst.plan_ms",
    "exec.jobs", "exec.tasks", "exec.task_ms", "exec.narrow_task_ms",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.peak_exec_mem_mb", "exec.core_util",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms", "streaming.query_planning_ms", "streaming.jobs_per_batch",
    "streaming.jobs_per_batch_stats",
    "ops.decode_ms", "ops.rows_in", "ops.rows_out",
    "sinks.append_ms", "sinks.files_written", "sinks.bytes_written", "sinks.write_tasks",
    "sinks.dead_letter_ms", "sinks.probe_jobs", "sinks.useful_job_ratio", "sinks.rollup_ms",
    "jvm.gc_ms", "jvm.major_gc",
    "drain.speedup_1core")
}

object Stats {
  /** Median: the mean of the two middle samples when their count is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      Some((100 * (s.size - 10) / s.size, s(s.size - 11)))
    }
}

/** JVM-wide garbage-collection counters. */
object Gc {
  private def beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def ms: Long = beans.map(_.getCollectionTime).sum
  /** Old-generation collections of the stock collectors. */
  def major: Long = beans.filter { b =>
    val n = b.getName
    n.contains("Old") || n.contains("MarkSweep") || n.contains("Major")
  }.map(_.getCollectionCount).sum
}

/** One benchmark workload: `setUp` makes the inputs and warms the JIT
  * (its wall time is part of `setup_s`), `measure` times the work until
  * `deadlineNs`, runs the correctness checks and fills the report, and
  * `layers` turns a traced run's spans and counters into per-layer
  * metrics, each divided by `tracedOps` (queries, drains or batches).
  */
trait Workload {
  def setUp(): Unit
  def measure(deadlineNs: Long): Unit
  def tracedOps: Int
  def layers(t: Trace): Unit
}

/** The benchmark's JVM entry point; `run.py` builds the classpath and
  * passes `--workload --seed --seconds --trace --cores --work --fixtures
  * --fingerprints`. Prints a human-readable report, then the result as
  * the last line of standard output.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = RunConf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("cores").toInt, new File(kv("work")), kv("fixtures"),
      kv("fingerprints"))
    val report = new Report

    var spark = graft.GraftSession.local(conf.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (conf.trace) Some(new Trace(spark.sparkContext, conf.cores)) else None

    val workload: Workload = conf.workload match {
      case "ingest_drain" => new Drain(spark, conf, report, trace)
      case "query_light" => new Queries(spark, conf, report, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t1 = System.nanoTime()
    workload.setUp()
    val setUpS = (System.nanoTime() - t1) / 1e9
    report.endToEnd("setup_s") = sessionS + setUpS
    report.note(f"setup session ${sessionS}%.3f s, inputs and warm-up ${setUpS}%.3f s")

    val gc0 = Gc.ms
    val major0 = Gc.major
    workload.measure(System.nanoTime() + conf.seconds * 1000000000L)
    val gcMs = Gc.ms - gc0
    val majors = Gc.major - major0
    report.note(s"jvm gc $gcMs ms, $majors old-generation collections in the measured window")

    trace.foreach { t =>
      workload match {
        case d: Drain => d.statsDrains(t)
        case _ =>
      }
      t.close()
      workload.layers(t)
      val ops = math.max(1, workload.tracedOps).toDouble
      report.layer("jvm.gc_ms" -> gcMs / ops, "jvm.major_gc" -> majors / ops)
      t.selfTimes.foreach { case (name, n, total, self) =>
        report.note(f"span $name%-24s n=$n%4d total ${total}%10.1f ms self ${self}%10.1f ms")
      }
      t.writeSpans(new File(conf.work, "spans.jsonl"))
    }
    workload match {
      case d: Drain if conf.trace => spark = d.singleCoreBaseline()
      case _ =>
    }
    report.endToEnd("rss_peak_mb") = peakRssMb()
    spark.stop()

    report.lines.foreach(println)
    report.endToEnd.foreach { case (k, v) => println(s"metric $k ${json(v)} ${Units.of(k)}") }
    println(s"error_ratio ${report.failed}/${report.attempted}")
    val metrics =
      if (conf.trace) report.perLayer.map { case (k, v) => k -> (v, Units.of(k)) }
      else report.endToEnd.map { case (k, v) => k -> (v, Units.of(k)) }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${json(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${report.failed == 0}, "attempted": ${report.attempted}, """ +
      s""""failed": ${report.failed}, "metrics": {$body}}""")
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Peak resident set of this JVM (Linux `VmHWM`). */
  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally status.close()
  }
}

object Units {
  def of(metric: String): String = metric match {
    case "setup_s" => "s"
    case "work_per_s" => "1/s"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_mb") => "MB"
    case "sinks.bytes_written" => "bytes"
    case "exec.core_util" | "sinks.useful_job_ratio" | "drain.speedup_1core" => "ratio"
    case _ => "count"
  }
}
