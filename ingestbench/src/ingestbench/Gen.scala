package ingestbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded generator of web_requests-shaped Kafka messages.
  *
  * Message `i` of seed `s` is a pure function of `(s, i)`: how messages are
  * batched, which thread makes them and when never changes their content.
  * Each payload is ~250 B of JSON with
  *  - `client`, an object that lands in a string column (ToString coercion),
  *  - `ts`, an RFC-3339 string that lands in a timestamp column,
  *  - `meta.producer.timestamp`, the source of the `date` partition:
  *    spread over 8 days for a replayed history, the creation stamp for a
  *    live stream,
  *  - `created_ms`, the generator's creation stamp.
  * A seeded share of messages is malformed: half do not parse as JSON, half
  * parse but carry a non-RFC-3339 `ts`, so they fail coercion.
  */
object Gen {
  val Topic = "web_requests"
  val KafkaPartitions = 8
  val Days = 8
  final val Good = 0
  final val BadDecode = 1
  final val BadCoerce = 2

  /** Kafka source row shape (what `spark.readStream.format("kafka")` yields). */
  val KafkaSchema: StructType = StructType(Seq(
    StructField("value", BinaryType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("topic", StringType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Target table: `client` is the C1 string column, `ts` the C2 timestamp
    * column; `date` and `kafka_offset` are filled by the transforms. */
  val TableSchema: StructType = StructType(Seq(
    StructField("method", StringType),
    StructField("status", IntegerType),
    StructField("url", StringType),
    StructField("session_id", StringType),
    StructField("latency_ms", LongType),
    StructField("client", StringType),
    StructField("ts", TimestampType),
    StructField("created_ms", LongType),
    StructField("date", StringType),
    StructField("kafka_offset", LongType)))

  val Transforms: Seq[(String, String)] = Seq(
    "date" -> "substr(meta.producer.timestamp, `0`, `10`)",
    "kafka_offset" -> "kafka.offset")

  private val Methods = Array("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val Statuses = Array(200, 200, 200, 201, 204, 301, 404, 500)
  private val Resources = Array("items", "users", "orders", "carts")
  private val Agents = Array("Mozilla/5.0 (X11)", "curl/8.5.0", "okhttp/4.12", "Go-http/1.1")
  private val Langs = Array("en-US", "de-DE", "fr-FR", "ja-JP")

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def kind(seed: Long, i: Long, badShare: Double): Int = {
    val u = (mix(mix(seed) ^ i) >>> 11) / 9007199254740992.0
    if (u >= badShare) Good
    else if ((mix(seed + 7 * i) & 1L) == 0L) BadDecode
    else BadCoerce
  }

  private val Epoch = java.time.Instant.parse("2021-11-01T00:00:00Z").toEpochMilli

  private def rng(seed: Long, i: Long) = new java.util.SplittableRandom(mix(seed * 31 + i))

  /** Producer timestamp of message `i`: a seeded instant in the `Days` days
    * from 2021-11-01 (a replayed history), or, for a live stream, its
    * creation stamp. It is the first draw of the message's generator. */
  private def producerMs(r: java.util.SplittableRandom, createdMs: Long, live: Boolean): Long = {
    val offset = r.nextLong(Days * 86400000L)
    if (live) createdMs else Epoch + offset
  }

  /** The `date` partition of message `i`. */
  def date(seed: Long, i: Long, createdMs: Long, live: Boolean): String =
    java.time.Instant.ofEpochMilli(producerMs(rng(seed, i), createdMs, live)).toString.take(10)

  /** Payload bytes of message `i`. */
  def payload(seed: Long, i: Long, k: Int, createdMs: Long, live: Boolean): Array[Byte] = {
    val r = rng(seed, i)
    val rfc = java.time.Instant.ofEpochMilli(producerMs(r, createdMs, live)).toString
    val ts = if (k == BadCoerce) rfc.replace('T', ' ').dropRight(1) else rfc
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"method\":\"").append(Methods(r.nextInt(Methods.length)))
      .append("\",\"status\":").append(Statuses(r.nextInt(Statuses.length)))
      .append(",\"url\":\"/api/v1/").append(Resources(r.nextInt(Resources.length)))
      .append('/').append(r.nextInt(100000))
      .append("\",\"session_id\":\"").append(java.lang.Long.toHexString(r.nextLong()))
      .append("\",\"latency_ms\":").append(r.nextInt(2000))
      .append(",\"client\":{\"ua\":\"").append(Agents(r.nextInt(Agents.length)))
      .append("\",\"lang\":\"").append(Langs(r.nextInt(Langs.length)))
      .append("\"},\"ts\":\"").append(ts)
      .append("\",\"created_ms\":").append(createdMs)
      .append(",\"meta\":{\"producer\":{\"timestamp\":\"").append(rfc).append("\"}}}")
    val text = if (k == BadDecode) sb.substring(0, sb.length - 9) else sb.toString
    text.getBytes(UTF_8)
  }

  /** Message `i` as a Kafka source row; offsets are global, so unique. */
  def row(seed: Long, badShare: Double, i: Long, createdMs: Long, live: Boolean): Row =
    Row(payload(seed, i, kind(seed, i, badShare), createdMs, live), (i % KafkaPartitions).toInt,
      i, Topic, new java.sql.Timestamp(createdMs), 0)
}

/** What the generator produced, as the output checker needs it. */
final class Expected(val seed: Long, val badShare: Double, val live: Boolean) {
  var offered = 0L
  /** Lowest offset offered; offsets are contiguous from here. */
  var first = Long.MaxValue
  val goodPerDate = mutable.HashMap.empty[String, Long]
  val badOffsets = mutable.HashSet.empty[Long]
  /** DLQ key of each bad message (see [[Expected.dlqKey]]) → multiplicity */
  val badKeys = mutable.HashMap.empty[String, Int]

  /** Record message `i` as offered. */
  def record(i: Long, createdMs: Long): Unit = {
    val k = Gen.kind(seed, i, badShare)
    offered += 1
    first = math.min(first, i)
    if (k == Gen.Good) {
      val d = Gen.date(seed, i, createdMs, live)
      goodPerDate(d) = goodPerDate.getOrElse(d, 0L) + 1
    } else {
      val bytes = Gen.payload(seed, i, k, createdMs, live)
      badOffsets += i
      val key =
        if (k == Gen.BadDecode) Expected.dlqKey(Base64.getEncoder.encodeToString(bytes), null)
        else Expected.dlqKey(null, new String(bytes, UTF_8))
      badKeys(key) = badKeys.getOrElse(key, 0) + 1
    }
  }

  def good: Long = offered - badOffsets.size

  def absorb(o: Expected): Unit = {
    offered += o.offered
    first = math.min(first, o.first)
    o.goodPerDate.foreach { case (d, n) => goodPerDate(d) = goodPerDate.getOrElse(d, 0L) + n }
    badOffsets ++= o.badOffsets
    o.badKeys.foreach { case (k, n) => badKeys(k) = badKeys.getOrElse(k, 0) + n }
  }
}

object Expected {
  /** A dead letter is identified by its payload: the bytes for a decode
    * failure, the JSON text for a coercion failure. The DLQ's base64 may be
    * MIME-chunked (Spark's `base64` breaks lines every 76 characters), so
    * it is compared by the bytes it encodes. */
  def dlqKey(base64: String, json: String): String =
    if (base64 != null)
      "b:" + Base64.getEncoder.encodeToString(Base64.getMimeDecoder.decode(base64))
    else "j:" + json
}
