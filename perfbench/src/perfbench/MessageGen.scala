package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, ZoneOffset}
import java.util.{Locale, SplittableRandom}

/** Rows a generated file plants, by what the pipeline must do with them:
  * land in the vision or air-quality lake, drop at a validity gate
  * (missing or 1970 timestamp, null or "nan" key), or go to the
  * dead-letter table as `malformed_json` or `unknown_topic`.
  */
final case class Planted(vision: Long, airQuality: Long, gated: Long,
                         malformed: Long, unknownTopic: Long) {
  def +(o: Planted): Planted = Planted(vision + o.vision, airQuality + o.airQuality,
    gated + o.gated, malformed + o.malformed, unknownTopic + o.unknownTopic)
  def total: Long = vision + airQuality + gated + malformed + unknownTopic
}

object Planted {
  val none: Planted = Planted(0, 0, 0, 0, 0)
}

/** Seeded, single-threaded generator of Kafka-shaped messages in the
  * `{"topic": ..., "value": "<json>"}` line format `IngestMain
  * source=dir:` reads. Both topic families are drawn (vision 60%, seven
  * `*_AIR_QUALITY` topics 40%); 2% of the rows are planted dirty,
  * spread evenly over every FIXTURES §A.3 guard. One instance is
  * one random stream: the same seed and call sequence give the same
  * bytes.
  */
final class MessageGen(seed: Long, cameras: Int, sites: Int, months: Seq[(Int, Int)]) {
  private val rnd = new SplittableRandom(seed)
  private val aqTopics = Seq("MLK", "DOUGLAS", "PEEPLES", "HOUSTON", "GEORGIA",
    "LINDSAY", "MCCALLIE").map(_ + "_AIR_QUALITY")
  private val labels = Seq("car", "bus", "person", "bicycle", "truck")

  /** Write `n` messages to `file` and return what they plant. */
  def writeFile(file: File, n: Int): Planted = {
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), UTF_8))
    var planted = Planted.none
    try (0 until n).foreach { _ =>
      val (line, p) = message()
      out.write(line)
      out.write('\n')
      planted += p
    } finally out.close()
    planted
  }

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
  private def num(x: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(x))
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def epochMs(): Long = {
    val (y, m) = pick(months)
    val first = LocalDate.of(y, m, 1)
    first.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli +
      rnd.nextLong(first.lengthOfMonth() * 86400000L)
  }

  private def camera(): String = f"cam-${rnd.nextInt(cameras)}%03d"
  private def site(): String = f"site-${rnd.nextInt(sites)}%03d"

  private def vision(ts: Option[Long], cam: String, withHits: Boolean): String = {
    val locs = (0 until rnd.nextInt(4)).map { _ =>
      s"""{"x":${num(rnd.nextDouble() * 1920)},"y":${num(rnd.nextDouble() * 1080)},""" +
        s""""label":${str(pick(labels))}}"""
    }
    val fields = ts.map(t => s""""timestamp":$t""").toSeq ++ Seq(
      s""""camera_id":${str(cam)}""", s""""locations":${locs.mkString("[", ",", "]")}""") ++
      (if (withHits) Seq(s""""hit_counts":${locs.size + rnd.nextInt(3)}""") else Nil)
    fields.mkString("{", ",", "}")
  }

  private def airQuality(ts: Option[Long], key: Option[String]): String = {
    val fields = ts.map(t => s""""timestamp":$t""").toSeq ++
      key.map(k => s""""nicename":${str(k)}""") ++ Seq(
        s""""pm25":${num(rnd.nextDouble() * 80)}""",
        s""""temp":${num(rnd.nextDouble() * 40 - 5)}""",
        s""""humidity":${num(rnd.nextDouble() * 100)}""")
    fields.mkString("{", ",", "}")
  }

  private def line(topic: Option[String], value: String): String =
    topic.map(t => s"""{"topic":${str(t)},"value":${str(value)}}""")
      .getOrElse(s"""{"value":${str(value)}}""")

  private def message(): (String, Planted) = {
    val visionTopic = graft.schemas.TopicSchemas.visionTopic
    if (rnd.nextDouble() >= 0.02) {
      if (rnd.nextDouble() < 0.6)
        (line(Some(visionTopic), vision(Some(epochMs()), camera(), rnd.nextDouble() < 0.9)),
          Planted.none.copy(vision = 1))
      else
        (line(Some(pick(aqTopics)), airQuality(Some(epochMs()), Some(site()))),
          Planted.none.copy(airQuality = 1))
    } else {
      val gated = Planted.none.copy(gated = 1)
      rnd.nextInt(10) match {
        case 0 => (line(Some(visionTopic), vision(None, camera(), true)), gated)
        case 1 => (line(Some(pick(aqTopics)), airQuality(None, Some(site()))), gated)
        case 2 => (line(Some(visionTopic), vision(Some(0L), camera(), true)), gated)
        case 3 => (line(Some(pick(aqTopics)), airQuality(Some(epochMs()), None)), gated)
        case 4 => (line(Some(pick(aqTopics)), airQuality(Some(epochMs()), Some("nan"))), gated)
        case 5 => (line(Some(visionTopic), vision(Some(epochMs()), "NaN", true)), gated)
        case 6 => (line(Some("cuip_lidar_events"), vision(Some(epochMs()), camera(), true)),
          Planted.none.copy(unknownTopic = 1))
        case 7 => (line(None, airQuality(Some(epochMs()), Some(site()))),
          Planted.none.copy(unknownTopic = 1))
        case 8 => (line(Some(visionTopic), vision(Some(epochMs()), camera(), true).dropRight(7)),
          Planted.none.copy(malformed = 1))
        case _ => (line(Some(pick(aqTopics)), "{\"timestamp\": " + epochMs() + ", \"nicename"),
          Planted.none.copy(malformed = 1))
      }
    }
  }
}
