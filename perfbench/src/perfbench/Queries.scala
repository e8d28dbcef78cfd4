package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}

/** `query_light`: q01–q16, the SURVEY §2.2 declared set, over the seed-42
  * sf0.1 fixture tables (`perfbench/fixtures/`). The seed only permutes
  * the query order of each pass. Every timed execution starts from an empty block
  * cache and writes every row to the noop sink. An untimed first pass
  * checks each result's fingerprint and takes the cold JIT's cost, about
  * three times a warm pass; the next pass is still somewhat slower, which
  * the per-query medians of the measured passes absorb.
  */
final class Queries(spark: SparkSession, conf: RunConf, report: Report,
                    trace: Option[Trace]) extends Workload {

  private type Builder = (SparkSession, String) => DataFrame
  private val queries: Seq[(String, Builder)] =
    SparkEntry.queries.toSeq.filter(_._1.matches("q(0[1-9]|1[0-6])_.*")).sortBy(_._1)
  private val rnd = new scala.util.Random(conf.seed)
  private val inputs = mutable.HashMap[String, Seq[String]]() // query -> tables it reads
  private val latencyMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val passS = mutable.ArrayBuffer[Double]()
  private var planMs = 0.0
  private val tracedSpans = mutable.ArrayBuffer[(String, Int, Int)]() // query, tables span, build span
  private var executions = 0
  private var untimedNs = 0L // traced: time spent in the extra Tables reads

  def setUp(): Unit = {
    val expected = Queries.readFingerprints(conf.fingerprints)
    rnd.shuffle(queries).foreach { case (name, build) =>
      spark.catalog.clearCache()
      val ok = try {
        val df = build(spark, conf.fixtures)
        inputs(name) = df.inputFiles.toSeq
          .map(p => p.stripSuffix("/").split('/').last.stripSuffix(".parquet")).distinct.sorted
        val got = Queries.fingerprint(df.collect(), df.columns.toSeq)
        val want = expected.get(name)
        report.check(s"fingerprint_$name", want.contains(got),
          s"expected ${want.getOrElse("none")}, got $got")
        true
      } catch { case e: Exception =>
        report.check(s"fingerprint_$name", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
      report.op(ok)
    }
  }

  /** One timed execution: build the DataFrame, plan it, write every row
    * to the noop sink. Traced, planning is forced in a span of its own,
    * and afterwards the benchmark reads each input table once more
    * through `Tables.table`, untimed, to count the read layer's jobs.
    */
  private def execute(name: String, build: Builder): Double = {
    spark.catalog.clearCache()
    trace match {
      case None =>
        val t0 = System.nanoTime()
        build(spark, conf.fixtures).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      case Some(t) => t.span("query") {
        def lastSpan(n: String): Int = t.spans.filter(_.name == n).last.id
        val t0 = System.nanoTime()
        val df = t.span("build")(build(spark, conf.fixtures))
        t.span("plan") {
          val qe = df.queryExecution
          qe.executedPlan
          planMs += qe.tracker.phases.values.map(_.durationMs).sum
        }
        t.span("exec")(df.write.format("noop").mode("overwrite").save())
        val ms = (System.nanoTime() - t0) / 1e6
        // after the timed part, so these reads do not warm the build's own,
        // and left out of the pass time
        val t1 = System.nanoTime()
        t.span("tables") {
          inputs.getOrElse(name, Nil).foreach(tab => Tables.table(spark, conf.fixtures, tab))
        }
        untimedNs += System.nanoTime() - t1
        tracedSpans += ((name, lastSpan("tables"), lastSpan("build")))
        ms
      }
    }
  }

  def measure(deadlineNs: Long): Unit = {
    while (passS.isEmpty || System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      untimedNs = 0L
      rnd.shuffle(queries).foreach { case (name, build) =>
        val ms = try Some(execute(name, build)) catch { case _: Exception => None }
        report.op(ms.isDefined)
        ms.foreach(latencyMs.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += _)
        executions += 1
      }
      passS += (System.nanoTime() - t0 - untimedNs) / 1e9
    }
    // one pass of q01-q16 is the unit of work, and its latency is the sum
    // of each query's median: a stall of the shared host that slows part
    // of one pass moves only the samples it hit, where it would move a
    // whole pass time, and a run holds only a few passes
    val perQuery = latencyMs.values.map(_.toSeq)
    val passMs = perQuery.map(Stats.median).sum
    report.endToEnd("latency_p50_ms") = passMs
    report.endToEnd("work_per_s") = perQuery.size / (passMs / 1000)
    report.timing("query_ms", "ms", perQuery.flatten.toSeq)
    report.timing("pass_s", "s", passS.toSeq)
  }

  def tracedOps: Int = executions

  def layers(t: Trace): Unit = {
    val spans = t.spans
    def spanMs(n: String): Double = spans.filter(_.name == n).map(_.ms).sum
    val reads = tracedSpans.map(q => inputs.getOrElse(q._1, Nil).size).sum.toDouble
    val ops = executions.toDouble
    // the builders read their tables through `Tables.table` themselves:
    // its inference jobs, told apart by their call site, count as the
    // Tables layer's, and only the rest as eager construction
    val (buildReads, eager) = t.jobsUnder("build").partition(Queries.isTablesRead)
    val tables = t.jobsUnder("tables")
    val buildReadMs = buildReads.map(_.ms).sum
    val startNs = t.spans.map(s => s.id -> s.startNs).toMap
    buildReads.foreach(j => t.addSpan("build.tables_job", j.span, startNs(j.span), j.ms))
    report.layer(
      "tables.infer_jobs" -> tables.size / math.max(1.0, reads),
      "tables.read_ms" -> spanMs("tables") / math.max(1.0, reads),
      "tables.query_infer_jobs" -> buildReads.size / ops,
      "tables.query_infer_ms" -> buildReadMs / ops,
      "entry.build_ms" -> (spanMs("build") - buildReadMs) / ops,
      "entry.eager_jobs" -> eager.size / ops,
      "entry.eager_task_ms" -> eager.map(_.taskMs).sum / ops,
      "catalyst.plan_ms" -> planMs / ops)
    t.execMetrics(t.jobsUnder("exec"), ops, spanMs("exec")).foreach(report.layer(_))
    val jobsBySpan = t.jobs.groupBy(_.span)
    def jobsIn(span: Int) = jobsBySpan.getOrElse(span, Nil)
    tracedSpans.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, xs) =>
      val (_, tablesSpan, buildSpan) = xs.last
      val (reads, eager) = jobsIn(buildSpan).partition(Queries.isTablesRead)
      report.note(s"query $name: ${eager.size} eager jobs and ${reads.size} Tables.table " +
        s"inference jobs while building; ${inputs.getOrElse(name, Nil).size} Tables.table " +
        s"reads alone ran ${jobsIn(tablesSpan).size} inference jobs")
    }
  }
}

object Queries {
  /** A job `Tables.table` submits: the footer-inference job of a read. */
  def isTablesRead(j: JobRecord): Boolean = j.callSite.contains("at Tables.scala:")

  /** Row count plus an order-independent 64-bit hash of the rows, columns
    * taken in name order and doubles at 12 significant digits, so the
    * fingerprint survives row order and last-bit float noise.
    */
  def fingerprint(rows: Array[Row], columns: Seq[String]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    def cell(v: Any): String = v match {
      case null => "\\N"
      case d: Double => String.format(java.util.Locale.ROOT, "%.12g", Double.box(d))
      case f: Float => String.format(java.util.Locale.ROOT, "%.12g", Double.box(f.toDouble))
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
      case other => other.toString
    }
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val s = order.map(i => cell(r.get(i))).mkString("\u0001")
      acc + ((MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL))
    }
    f"rows=${rows.length} hash=$sum%016x"
  }

  /** `{"q01_scan_project": "rows=.. hash=..", ...}` */
  def readFingerprints(path: String): Map[String, String] = {
    val entry = """"(q\d+_\w+)"\s*:\s*"([^"]+)"""".r
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    entry.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}
