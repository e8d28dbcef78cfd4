package perfbench

import java.io.File
import java.nio.file.Files
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.DecimalType

import graft.schemas.TopicSchemas
import graft.sinks.IncrementalAgg
import graft.streaming.{IngestMain, IngestPipeline}

/** `ingest_drain`: the reference's CRON catch-up job — `IngestMain
  * mode=drain` (`Trigger.AvailableNow`) over a seeded backlog of
  * Kafka-shaped messages in the `dir:` source: both topic families,
  * dozens of entities over twelve months (hundreds of lake leaves), 2%
  * dirty rows. Each timed drain lands the whole backlog into a fresh lake.
  */
final class Drain(private var spark: SparkSession, conf: RunConf, report: Report,
                  trace: Option[Trace]) extends Workload {
  import Drain._

  private val in = conf.dir("drain_in")
  private val warm = conf.dir("drain_warm")
  private var planted = Planted.none
  private var warmPlanted = Planted.none
  private var drains = 0
  private val timedMs = mutable.ArrayBuffer[Double]()
  private val progress = mutable.ArrayBuffer[Seq[StreamingQueryProgress]]() // per drain
  private var filesWritten = 0L
  private var statsRuns = Seq.empty[(Int, Seq[StreamingQueryProgress])] // span id, progress

  def setUp(): Unit = {
    val gen = new MessageGen(conf.seed, Cameras, Sites, (1 to 12).map(2023 -> _))
    planted = (0 until InputFiles).map { i =>
      gen.writeFile(new File(in, f"backlog-$i%02d.json"), Messages / InputFiles)
    }.reduce(_ + _)
    report.note(s"inputs $planted")
    // drain times keep falling for about five drains of a fresh JVM (the
    // first is over twice a warm one): warm up on a quarter-size backlog
    // over the same leaves, then on the backlog itself, untimed
    warmPlanted = (0 until InputFiles).map { i =>
      gen.writeFile(new File(warm, f"warm-$i%02d.json"), Messages / InputFiles / 4)
    }.reduce(_ + _)
    drain(warm)
    drain()
  }

  /** One drain of `from`, into a fresh lake unless `lake` names a lake
    * root and checkpoint; returns (wall ms, lake root, progress).
    */
  private def drain(from: File = in, stats: Boolean = false,
                    lake: Option[(String, String)] = None)
      : (Double, String, Seq[StreamingQueryProgress]) = {
    drains += 1
    val (root, ckpt) = lake.getOrElse(
      (new File(conf.work, s"lake-$drains").toString, new File(conf.work, s"ckpt-$drains").toString))
    val t0 = System.nanoTime()
    val q = IngestMain.startQueries(spark, Map("source" -> s"dir:$from", "root" -> root,
      "checkpoint" -> ckpt, "mode" -> "drain", "stats" -> stats.toString)).head
    q.awaitTermination()
    ((System.nanoTime() - t0) / 1e6, root, q.recentProgress.toSeq)
  }

  def measure(deadlineNs: Long): Unit = {
    var last = ""
    while (timedMs.isEmpty || System.nanoTime() < deadlineNs) {
      val (ms, root, p) = trace.fold(drain())(_.span("drain")(drain()))
      val rows = p.map(_.numInputRows).sum
      report.op(rows == planted.total)
      if (rows != planted.total) report.note(s"drain read $rows of ${planted.total} messages")
      timedMs += ms
      progress += p
      filesWritten += dataFiles(new File(root)).size
      last = root
    }
    checkLake(last)

    val medianMs = Stats.median(timedMs.toSeq)
    report.endToEnd("latency_p50_ms") = medianMs
    report.endToEnd("work_per_s") = planted.total / (medianMs / 1000)
    report.timing("drain_ms", "ms", timedMs.toSeq)
    report.note(f"ingest_msgs_per_s ${planted.total / (medianMs / 1000)}%.1f 1/s " +
      f"(median of n=${timedMs.size} drains of ${planted.total} messages)")
  }

  /** Landed rows per family and dead-letter rows per reason equal what
    * the generator planted, and no gated row reached the lake.
    */
  private def checkLake(root: String): Unit = {
    def lake(family: String): DataFrame = spark.read.parquet(s"$root/$family")
    for ((family, want) <- Seq("vision" -> planted.vision, "air_quality" -> planted.airQuality)) {
      val got = lake(family).count()
      report.check(s"landed_$family", got == want, s"expected $want rows, got $got")
      val leaked = lake(family).filter(col("ts").isNull || year(col("ts")) === 1970 ||
        col("entity").isNull || col("entity").isin("nan", "NaN")).count()
      report.check(s"gated_$family", leaked == 0, s"$leaked gated rows in the lake")
    }
    val dead = IngestPipeline.readDeadLetter(spark, root).groupBy("reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((reason, want) <- Seq("malformed_json" -> planted.malformed,
                               "unknown_topic" -> planted.unknownTopic)) {
      val got = dead.getOrElse(reason, 0L)
      report.check(s"dead_letter_$reason", got == want, s"expected $want rows, got $got")
    }
  }

  /** Traced only, after the timed drains: `IngestMain mode=drain
    * stats=true` twice into one lake and checkpoint, first the backlog,
    * then the warm-up files over the same leaves. The second batch runs
    * `IncrementalAgg.maintain`'s full read-modify-write on partitions that
    * already hold rows, as every daemon-mode batch after the first does.
    * Checks the rollup against a recompute from the lake.
    */
  def statsDrains(t: Trace): Unit = {
    val statsIn = conf.dir("stats_in")
    val lake = Some((new File(conf.work, "lake-stats").toString,
      new File(conf.work, "ckpt-stats").toString))
    statsRuns = Seq(in, warm).zipWithIndex.map { case (from, i) =>
      from.listFiles().foreach(f => Files.copy(f.toPath, new File(statsIn, f.getName).toPath))
      val name = s"stats_drain_${i + 1}"
      val (_, _, p) = t.span(name)(drain(statsIn, stats = true, lake))
      (t.spans.filter(_.name == name).last.id, p)
    }
    val root = lake.get._1
    val landed = spark.read.parquet(s"$root/vision")
    val want = planted.vision + warmPlanted.vision
    val got = landed.count()
    report.check("stats_landed_vision", got == want, s"expected $want rows, got $got")
    def keyed(df: DataFrame): DataFrame = df.select(col("entity").cast("string").as("entity"),
      col("year").cast("int").as("year"), col("month").cast("int").as("month"),
      col("n").cast("long").as("n"), col("sum_v").cast(DecimalType(18, 2)).as("sum_v"))
    val rollup = keyed(IncrementalAgg.read(spark, s"$root/_stats/vision"))
    val recompute = keyed(landed.groupBy("entity", "year", "month").agg(
      count(lit(1)).as("n"), sum(col("hit_counts").cast(DecimalType(18, 2))).as("sum_v")))
    val (extra, missing) = (rollup.exceptAll(recompute).count(), recompute.exceptAll(rollup).count())
    report.check("stats_rollup", extra == 0 && missing == 0,
      s"rollup has ${rollup.count()} groups; $extra not in the recompute from the lake, $missing missing")
  }

  def tracedOps: Int = timedMs.size

  def layers(t: Trace): Unit = {
    val drainSpans = t.spans.filter(_.name == "drain")
    drainSpans.zip(progress).foreach { case (s, p) => triggerSpans(t, s.id, p) }
    statsRuns.foreach { case (id, p) => triggerSpans(t, id, p) }
    val perDrain = timedMs.size.toDouble
    val batches = progress.flatten.filter(_.numInputRows > 0).toSeq
    def phase(name: String): Double =
      batches.map(p => Option(p.durationMs.get(name)).map(_.toDouble).getOrElse(0.0)).sum / perDrain
    val jobs = t.jobsUnder("drain")
    def roleOf(j: JobRecord): String = t.execution(j.execution).map(e => role(e.plan)).getOrElse("other")
    val byRole = jobs.groupBy(roleOf)
    def roleMs(r: String): Double = coveredMs(t, byRole.getOrElse(r, Nil)) / perDrain
    // the stats drains: jobs per data batch, and the rollup's share of the
    // second batch, everything but the probes and the lake and dead-letter
    // writes
    val statsJobs = statsRuns.map { case (id, p) =>
      val ids = t.subtree(Seq(id))
      val js = t.jobs.filter(j => j.batchId >= 0 && ids.contains(j.span))
      (js, p.count(_.numInputRows > 0))
    }
    val rollupJobs = statsJobs.lastOption.toSeq.flatMap(_._1)
      .filterNot(j => Set("probe", "append", "dead_letter")(roleOf(j)))
    statsJobs.zipWithIndex.foreach { case ((js, batches), i) =>
      report.note(s"stats drain ${i + 1}: ${js.size} jobs in $batches data batch(es)")
    }
    report.layer(
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.jobs_per_batch" -> jobs.count(_.batchId >= 0).toDouble / math.max(1, batches.size),
      "streaming.jobs_per_batch_stats" -> statsJobs.lastOption.map { case (js, n) =>
        js.size.toDouble / math.max(1, n) }.getOrElse(0.0),
      "sinks.rollup_ms" -> coveredMs(t, rollupJobs),
      "sinks.append_ms" -> roleMs("append"),
      "sinks.dead_letter_ms" -> roleMs("dead_letter"),
      "sinks.probe_jobs" -> byRole.getOrElse("probe", Nil).size / perDrain,
      "sinks.files_written" -> filesWritten / perDrain,
      "sinks.bytes_written" -> jobs.map(_.outputBytes).sum / perDrain,
      "sinks.write_tasks" -> jobs.map(_.outputTasks).sum / perDrain,
      "sinks.useful_job_ratio" ->
        (if (jobs.isEmpty) 0.0 else jobs.count(_.outputBytes > 0).toDouble / jobs.size))
    t.execMetrics(jobs, perDrain, drainSpans.map(_.ms).sum).foreach(report.layer(_))
    byRole.toSeq.sortBy(_._1).foreach { case (r, js) =>
      report.note(f"jobs $r%-12s ${js.size / perDrain}%.1f per drain, " +
        f"${js.map(_.ms).sum / perDrain}%.0f job-ms per drain")
    }
    opsProbe(t)
  }

  /** The `ops` layer alone: both topic transforms over the whole backlog
    * as one batch, to a noop sink — decode, patch, gates and partition
    * columns without any sink.
    */
  private def opsProbe(t: Trace): Unit = {
    val raw = spark.read.schema("topic STRING, value STRING").json(in.toString)
    val families = Seq(
      IngestPipeline.transformVision _ -> (col("topic") <=> TopicSchemas.visionTopic),
      IngestPipeline.transformAirQuality _ ->
        coalesce(col("topic").endsWith(TopicSchemas.airQualitySuffix), lit(false)))
    val counts = t.span("ops") {
      families.map { case (transform, isFamily) =>
        val rowsIn = Observation()
        val rowsOut = Observation()
        transform(raw.filter(isFamily).observe(rowsIn, count(lit(1)).as("n")))
          .observe(rowsOut, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        (rowsIn.get("n").asInstanceOf[Long], rowsOut.get("n").asInstanceOf[Long])
      }
    }
    val (rowsIn, rowsOut) = (counts.map(_._1).sum, counts.map(_._2).sum)
    val want = planted.vision + planted.airQuality
    report.check("ops_rows_out", rowsOut == want, s"transforms kept $rowsOut rows, planted $want valid")
    report.layer("ops.decode_ms" -> t.spans.filter(_.name == "ops").map(_.ms).sum,
      "ops.rows_in" -> rowsIn.toDouble, "ops.rows_out" -> rowsOut.toDouble)
  }

  /** The single-threaded baseline: the same drain on a `local[1]` session
    * after the traced drains; records their median's speed-up over it.
    */
  def singleCoreBaseline(): SparkSession = {
    spark.stop()
    spark = graft.GraftSession.local(1)
    spark.sparkContext.setLogLevel("ERROR")
    val (ms, _, _) = drain()
    report.layer("drain.speedup_1core" -> ms / Stats.median(timedMs.toSeq))
    report.note(f"drain on local[1] ${ms}%.0f ms")
    spark
  }
}

object Drain {
  val Messages = 100000
  val InputFiles = 8
  val Cameras = 16
  val Sites = 8

  /** Data files under `root`. */
  def dataFiles(root: File): Seq[File] =
    Option(root.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    }

  /** Role of a SQL execution inside `routeAndWrite`, read from its plan
    * (every streaming job carries the call site of the query's `start`):
    * a read or write of the `stats=true` rollup, a partitioned lake
    * append, the dead-letter write, or an `isEmpty` probe.
    */
  def role(plan: String): String =
    if (plan.contains("/_stats/")) "rollup"
    else if (plan.contains("InsertIntoHadoopFsRelationCommand")) {
      if (plan.contains("/_dead_letter")) "dead_letter" else "append"
    } else if (plan.contains("CollectLimit")) "probe"
    else "other"

  /** Wall time covered by `js` and their SQL executions; a union, because
    * a write's nested executions overlap their parent. A streaming batch's
    * own execution spans the whole batch, so it is left out; jobs that run
    * directly under it count with their own wall time.
    */
  def coveredMs(t: Trace, js: Seq[JobRecord]): Double = {
    val spans = (js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)) ++
      js.map(_.execution).distinct.flatMap(t.execution).filter(e => e.nested && e.endMs >= 0)
        .map(e => (e.startMs, e.endMs))).sortBy(_._1)
    val (covered, _) = spans.foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
      (acc + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }
    covered.toDouble
  }

  /** Record each data batch of `progress` as a span with one child per
    * `durationMs` phase, so self times show trigger overhead.
    */
  def triggerSpans(t: Trace, parent: Int, progress: Seq[StreamingQueryProgress]): Unit =
    progress.filter(_.numInputRows > 0).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val start = Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val id = t.addSpan("trigger", parent, start, d.getOrElse("triggerExecution", 0.0))
      d.foreach { case (k, ms) => if (k != "triggerExecution") t.addSpan(s"trigger.$k", id, start, ms) }
    }
}
