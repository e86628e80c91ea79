package graft.streaming

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Base64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.coercions.Coercions
import graft.delta.DeltaTable
import graft.serialization.Decoders
import graft.transforms.{JmesPath, KafkaMeta, Transformer}

/** Message wire format (reference MessageFormat × SchemaSource,
  * /root/reference/src/lib.rs:213-240). */
sealed trait MessageFormat
object MessageFormat {
  case object Json extends MessageFormat
  case object JsonGzip extends MessageFormat
  case object JsonRegistry extends MessageFormat
  final case class AvroContainer(readerSchema: Option[String] = None) extends MessageFormat
  final case class AvroSoe(schemas: Seq[String]) extends MessageFormat
  final case class AvroRegistry(schemas: graft.serialization.SchemaSource) extends MessageFormat
  object AvroRegistry {
    /** Pre-resolved id→schema map (the no-egress form). */
    def apply(schemaById: Map[Int, String]): AvroRegistry =
      AvroRegistry(graft.serialization.MapSchemaSource(schemaById))
  }
}

/** Reference IngestOptions (/root/reference/src/lib.rs:258-329), Spark-shaped:
  * buffering knobs become trigger/offset-rate options; exactly-once comes
  * from the checkpoint + Delta txn. */
final case class IngestOptions(
    appId: String = "kafka_delta_ingest",
    transforms: Seq[(String, String)] = Nil,
    format: MessageFormat = MessageFormat.Json,
    dlqTablePath: Option[String] = None,
    dlqTransforms: Seq[(String, String)] = Nil,
    /** flush deadline → micro-batch trigger (reference default 300 s) */
    allowedLatency: java.time.Duration = java.time.Duration.ofSeconds(300),
    /** rows per batch cap → maxOffsetsPerTrigger (reference default 5000) */
    maxMessagesPerBatch: Long = 5000L,
    /** bounded run: consume to current end then stop (S5) */
    endAtLastOffsets: Boolean = false,
    checkpointLocation: Option[String] = None,
    /** M1/M2: statsd-style sink fed per batch + per progress event */
    metricsSink: Option[MetricsSink] = None,
    /** B3 (`--min_bytes_per_file`, reference default 128 MiB): when set,
      * files smaller than this are auto-compacted after each batch — the
      * Spark analog of the reference's accumulate-until-min-bytes file
      * flush (a micro-batch sink can't hold one file open across
      * triggers, SURVEY §7.7). */
    minBytesPerFile: Option[Long] = None)

/** The reference's whole per-message path (SURVEY §3.2) as one declarative
  * column pipeline: decode (D1–D7) → transforms (T1–T8) → coercions
  * (C1–C3) → ok/dead-letter split (E1–E3). Stateless, so it applies
  * identically to a batch DataFrame or each streaming micro-batch.
  */
object PipelineStages {

  /** DeadLetter table schema (reference src/dead_letters.rs:26-38). */
  val DeadLetterSchema: StructType = StructType(Seq(
    StructField("base64_bytes", StringType),
    StructField("json_string", StringType),
    StructField("error", StringType),
    StructField("timestamp", TimestampType)))

  /** Decode the raw `value` column (binary or string) to JSON text per the
    * configured format; null result = deserialization failure (→ DLQ). */
  def decodeToJson(value: Column, format: MessageFormat): Column = format match {
    case MessageFormat.Json => value.cast(StringType)
    case MessageFormat.JsonGzip => Decoders.gunzip(value.cast(BinaryType)).cast(StringType)
    case MessageFormat.JsonRegistry => Decoders.registryJson(value.cast(BinaryType))
    case MessageFormat.AvroContainer(rs) => Decoders.avroContainer(value.cast(BinaryType), rs)
    case MessageFormat.AvroSoe(schemas) => Decoders.avroSoe(value.cast(BinaryType), schemas)
    case MessageFormat.AvroRegistry(src) => Decoders.avroRegistry(value.cast(BinaryType), src)
  }

  /** Apply the full message path. Input df must carry `value` plus (when
    * kafka meta transforms are used) the Kafka source columns. Returns df
    * with: `msg` (typed struct per schema), `errs` (array<string>),
    * `decode_failed` (boolean), `_json` (decoded text).
    */
  def apply(df: DataFrame, schema: StructType, opts: IngestOptions): DataFrame = {
    // D7: empty-payload skip (logged+dropped in the reference, not DLQ'd)
    val nonEmpty = df.filter(col("value").isNotNull && length(col("value")) > 0)

    val json = decodeToJson(col("value"), opts.format)
    val withJson = nonEmpty.withColumn("_json", json)
    val v = try_parse_json(col("_json"))
    val withVar = withJson.withColumn("_v", v)

    // coercion of the raw message to the table schema
    val (msg, errs) = Coercions.coerceMessage(col("_v"), schema)
    val coerced = withVar.withColumn("msg", msg).withColumn("_errs0", errs)

    // transforms (pre-coercion sources: raw variant + kafka meta), outputs
    // written into the typed msg struct at their target paths
    val transformed = opts.transforms.foldLeft(coerced) { case (acc, (target, source)) =>
      val src = source.trim
      val raw: Column =
        if (KafkaMeta.all.contains(src))
          // a real Kafka source's `timestamp` is TimestampType; the ms-long
          // harness shape takes the numeric path — resolve from the frame
          KafkaMeta.column(src, acc.schema.fields
            .find(_.name == KafkaMeta.TimestampCol).map(_.dataType))
        else JmesPath.toColumnOverVariant(JmesPath.parse(src), col("_v"))
      val targetType = typeAt(schema, target)
      val coercedOut = coerceScalar(acc, raw, targetType)
      val existing = fieldAt(col("msg"), target)
      // null-result-not-set: keep the coerced original on null transform
      acc.withColumn("msg", col("msg").withField(target, coalesce(coercedOut, existing)))
    }

    transformed
      .withColumn("errs", col("_errs0"))
      .withColumn("decode_failed", col("_json").isNull || col("_v").isNull)
      .drop("_errs0")
  }

  private def fieldAt(root: Column, path: String): Column =
    path.split('.').foldLeft(root)((c, f) => c.getField(f))

  private def typeAt(schema: StructType, path: String): DataType = {
    path.split('.').foldLeft(Option(schema: DataType)) {
      case (Some(st: StructType), name) => st.fields.find(_.name == name).map(_.dataType)
      case _ => None
    }.getOrElse(throw new IllegalArgumentException(
      s"transform target '$path' not in table schema ${schema.simpleString}"))
  }

  /** Coerce one transform output to its target schema type, following the
    * reference coercion rules for post-transform values. Needs the actual
    * expression type, probed from the plan (cheap: analysis only). */
  private def coerceScalar(df: DataFrame, c: Column, target: DataType): Column = {
    val actual = df.select(c.as("probe")).schema.head.dataType
    (actual, target) match {
      case (a, t) if a == t => c
      case (VariantType, StringType) =>
        when(c.isNull || is_variant_null(c), lit(null).cast(StringType))
          .otherwise(coalesce(try_variant_get(c, "$", "string"), to_json(c)))
      case (VariantType, TimestampType) =>
        val asStr = try_variant_get(c, "$", "string")
        val asLong = try_variant_get(c, "$", "long")
        when(schema_of_variant(c) === "STRING", Coercions.rfc3339ToTimestamp(asStr))
          .otherwise(timestamp_micros(asLong))
      case (VariantType, t) => try_variant_get(c, "$", t.sql)
      case (StringType, TimestampType) => Coercions.rfc3339ToTimestamp(c)
      case (LongType | IntegerType, TimestampType) => timestamp_micros(c.cast(LongType))
      case (_, StringType) => c.cast(StringType)
      case (_, t) => c.cast(t)
    }
  }

  /** Split a staged frame into (ok, deadLetters): ok rows have clean decode
    * and no coercion errors; dead rows carry the reference DeadLetter shape
    * (E2 deserialization failure → base64 bytes; E3/E4 transform/coercion
    * failure → json text + error). */
  def split(staged: DataFrame): (DataFrame, DataFrame) = {
    val okRows = staged.filter(!col("decode_failed") && size(col("errs")) === 0)
      .select(col("msg.*"))
    val dead = staged.filter(col("decode_failed") || size(col("errs")) > 0)
      .select(
        when(col("decode_failed"), plainBase64(col("value").cast(BinaryType))).as("base64_bytes"),
        when(!col("decode_failed"), col("_json")).as("json_string"),
        when(col("decode_failed"), lit("deserialization failed"))
          .otherwise(concat_ws("; ", col("errs"))).as("error"),
        current_timestamp().as("timestamp"))
    (okRows, dead)
  }

  /** RFC 4648 base64 on one line, as the reference writes it: `base64()`
    * follows `spark.sql.chunkBase64String.enabled` and may break the text
    * into 76-character MIME lines. */
  private def plainBase64(bytes: Column): Column =
    ColumnBridge.wrap(Base64(ColumnBridge.toExpr(bytes), chunkBase64 = false))
}

/** End-to-end ingestion: a Kafka-shaped source (streaming or batch) through
  * PipelineStages into a Delta table with per-batch idempotent txn commits
  * — the reference's run loop (SURVEY §3.1) collapsed into Structured
  * Streaming foreachBatch. */
object IngestPipeline {

  /** Start a streaming ingest query. `source` must be a streaming DataFrame
    * with at least a `value` column (Kafka source shape). */
  def start(spark: SparkSession, source: DataFrame, tablePath: String,
            opts: IngestOptions): StreamingQuery = {
    val table = DeltaTable.forPath(spark, tablePath)
    val dlq = DeadLetterSinks.fromOptions(spark, opts)
    val listener = opts.metricsSink.map { s =>
      val l = new IngestMetricsListener(s, Some(spark))
      spark.streams.addListener(l)
      l
    }
    val writer = source.writeStream
      .trigger(if (opts.endAtLastOffsets) Trigger.AvailableNow()
               else Trigger.ProcessingTime(opts.allowedLatency.toMillis))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, table, dlq, opts)
      }
    opts.checkpointLocation.foreach(writer.option("checkpointLocation", _))
    val query = writer.start()
    // scope the listener to THIS query: listeners are session-global, and
    // unscoped gauges from concurrent/restarted queries would interleave
    listener.foreach(_.scopeTo(query.id))
    query
  }

  /** Kafka → Delta, the reference's one entry point (src/lib.rs:358-362):
    * assembles the source from [[KafkaSourceConfig]] (S1/S3/S4) honoring
    * maxMessagesPerBatch (B2) and starts the ingest query. */
  def startFromKafka(spark: SparkSession, kafka: KafkaSourceConfig,
                     tablePath: String, opts: IngestOptions): StreamingQuery = {
    val cfg =
      if (kafka.maxMessagesPerBatch.isEmpty)
        kafka.copy(maxMessagesPerBatch = Some(opts.maxMessagesPerBatch))
      else kafka
    // S4 guard: refuse a seek that regresses behind checkpointed offsets
    // BEFORE any stream state is created (reference offsets.rs:36-102)
    OffsetGuard.validate(cfg, opts.checkpointLocation,
      spark.sessionState.newHadoopConf())
    start(spark, cfg.load(spark), tablePath, opts)
  }

  /** One micro-batch: stage → split → transactional append (idempotent via
    * txn appId/batchId, reference X1/§2.8).
    *
    * Schema drift (X3): the table schema is RE-RESOLVED from the Delta
    * snapshot on every batch — a metaData commit made by another process
    * mid-stream (the reference's schema_update_tests.rs:23-113 scenario)
    * takes effect on the next batch: new nullable columns are null-filled
    * for messages that lack them (the coercion does this naturally),
    * matching the reference writer's schema-reload behavior
    * (/root/reference/src/writer.rs:370-387). */
  def processBatch(batch: DataFrame, batchId: Long, table: DeltaTable,
                   dlq: DeadLetterSink, opts: IngestOptions): Unit = {
    val schema = table.schema // current snapshot's schema, not start-time's
    // M1 counters and the dead-letter count ride the write job as observed
    // aggregates (zero extra jobs): the observation node sits above the
    // staged frame, BEFORE the ok/dead split filters, so it sees every
    // message once.
    val obs = Observation()
    val staged = PipelineStages(batch, schema, opts).observe(obs,
      count(lit(1)).as("messages"),
      count(when(col("decode_failed"), lit(1))).as("deser_failed"),
      count(when(!col("decode_failed") && size(col("errs")) > 0, lit(1))).as("transform_failed"),
      coalesce(sum(octet_length(col("value").cast(BinaryType))), lit(0L)).as("bytes"))
    val (ok, dead) = PipelineStages.split(staged)
    opts.metricsSink.foreach(IngestMetrics.batchStarted)
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1000000L
    val committed =
      try table.append(ok, Some(opts.appId), batchId, operation = "STREAMING UPDATE")
      catch { case e: Throwable =>
        opts.metricsSink.foreach(IngestMetrics.batchFailed(_, ms)); throw e }
    val writeMs = ms
    // An idempotent skip may run no job, and then the observation never
    // fires; nobody waits for it when no sink reads it.
    val observed =
      if (committed < 0 || (opts.metricsSink.isEmpty && (dlq eq NoopDeadLetterSink))) None
      else awaitObservation(obs)
    opts.metricsSink.foreach(IngestMetrics.batchCompleted(_, observed, writeMs))
    // A batch with no dead letters still commits the DLQ's txn (its
    // watermark advances every batch), but over an empty plan: the append
    // then writes no Parquet and runs no job, instead of re-running the
    // whole message path to find zero rows. A replayed batch (the main
    // append skipped) or a missing observation re-runs it.
    val clean = observed.exists(o =>
      IngestMetrics.count(o, "deser_failed") + IngestMetrics.count(o, "transform_failed") == 0)
    dlq.write(if (clean) dead.limit(0) else dead, batchId)
    if (committed >= 0) opts.minBytesPerFile.foreach(table.compact(_): Unit)
  }

  /** Longest wait for a committed write's observed row. The row arrives
    * through the asynchronous listener bus, normally within milliseconds of
    * the job's end; past this the batch proceeds without it. */
  private val ObservationWait: FiniteDuration = 10.seconds

  private def awaitObservation(obs: Observation): Option[Map[String, Any]] =
    try { Await.ready(obs.future, ObservationWait); Some(obs.get) }
    catch { case _: java.util.concurrent.TimeoutException => None }

  /** Flagship batch-mode run (SURVEY §7.3, the reference's canonical
    * web_requests example re-expressed): ingest sf events as JSON messages
    * with a substr-derived `date` partition + kafka offset meta, then read
    * the Delta table back. */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.Tables.events(spark, sfDir)
    // A real Kafka topic spreads messages across partitions, and Spark's
    // Kafka source maps partitions → tasks; the single small parquet file
    // behind this simulation collapses to ONE input split. Worse, the
    // ok/dead split filter (which embeds the whole decode+coerce tree)
    // pushes below any repartition right onto that scan, serializing the
    // message path on one core (measured 5.4 s vs 1.2 s at sf0.1). The
    // localCheckpoint below is the "this is a source" lineage barrier: it
    // materializes the messages across one partition per core, exactly the
    // shape a Kafka micro-batch arrives in.
    val kafkaParallelism = spark.sparkContext.defaultParallelism
    val kafkaShaped0 = events.select(
      to_json(struct(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"),
        graft.transforms.TimeFormat.iso8601FromEpoch(unix_micros(col("ts")), "us").as("modified")
      )).as("value"),
      (col("event_id") % 4).cast(IntegerType).as("partition"),
      col("event_id").as("offset"),
      lit("events").as("topic"),
      unix_millis(col("ts")).as("timestamp"),
      lit(0).as("timestampType"))
    val kafkaShaped = kafkaShaped0.repartition(kafkaParallelism).localCheckpoint()

    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("k", LongType),
      StructField("modified", StringType),
      StructField("date", StringType),
      StructField("_kafka_offset", LongType)))

    val dir = graft.Scratch.dir("graft-flagship")
    val table = DeltaTable.forPath(spark, dir)
      .create(schema, partitionColumns = Seq("date"))
    val opts = IngestOptions(
      appId = "flagship",
      transforms = Seq(
        "date" -> "substr(modified, `0`, `10`)",
        "_kafka_offset" -> "kafka.offset"))
    processBatch(kafkaShaped, 0L, table, NoopDeadLetterSink, opts)
    table.toDF
  }
}
