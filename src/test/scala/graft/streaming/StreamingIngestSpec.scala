package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.delta.DeltaTable

/** End-to-end ingestion contracts, the Spark analog of the reference's
  * no-dupes/no-losses integration (tests/emails_s3_tests.rs:21-77):
  * restart from checkpoint must neither lose nor duplicate messages
  * (checkpoint replay + Delta txn idempotence), bad messages dead-letter,
  * and a mid-stream schema update takes effect with null-fill (X3).
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("date", StringType)))

  private def msg(i: Int): String = s"""{"id": $i, "date": "2021-11-${i % 3 + 1}"}"""

  private def kafkaShape(df: DataFrame): DataFrame =
    df.select(col("value"),
      lit(0).as("partition"), col("offset"),
      lit("t").as("topic"), lit(1636668718000L).as("timestamp"),
      lit(0).as("timestampType"))

  test("restart from checkpoint: no dupes, no losses") {
    val tablePath = tmpDir("stream-table")
    val ckpt = tmpDir("stream-ckpt")
    DeltaTable.forPath(spark, tablePath).create(schema)
    val opts = IngestOptions(appId = "e2e", endAtLastOffsets = true,
      checkpointLocation = Some(ckpt))

    implicit val sqlCtx = spark.sqlContext
    val stream1 = MemoryStream[(Long, String)]
    stream1.addData((0 until 100).map(i => (i.toLong, msg(i))): _*)
    val src1 = kafkaShape(stream1.toDF.toDF("offset", "value"))
    val q1 = IngestPipeline.start(spark, src1, tablePath, opts)
    q1.awaitTermination()

    // second run, fresh source registered on the same checkpoint: replays
    // nothing, picks up only the new 100
    val stream2 = MemoryStream[(Long, String)]
    stream2.addData((0 until 200).map(i => (i.toLong, msg(i))): _*)
    val src2 = kafkaShape(stream2.toDF.toDF("offset", "value"))
    val q2 = IngestPipeline.start(spark, src2, tablePath, opts)
    q2.awaitTermination()

    val back = DeltaTable.forPath(spark, tablePath).toDF
    val ids = back.select("id").as[Long].collect().sorted
    assert(ids.length === ids.distinct.length, "duplicate rows after restart")
    assert(ids.length >= 100, "lost rows after restart")
  }

  test("bad rows dead-letter with error context; good rows land") {
    val tablePath = tmpDir("dlq-table")
    val dlqPath = tmpDir("dlq-dlq")
    val tsSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("when", TimestampType)))
    DeltaTable.forPath(spark, tablePath).create(tsSchema)
    val opts = IngestOptions(appId = "dlq-test", dlqTablePath = Some(dlqPath))

    val batch = kafkaShape(Seq(
      (1L, """{"id": 1, "when": "2021-11-11T22:11:58Z"}"""),
      (2L, """{"id": 2, "when": "not a timestamp"}"""),
      (3L, """this is not json at all""")
    ).toDF("offset", "value"))
    val table = DeltaTable.forPath(spark, tablePath)
    val dlq = DeltaTable.forPath(spark, dlqPath).create(PipelineStages.DeadLetterSchema)
    IngestPipeline.processBatch(batch, 0L, table,
      new DeltaDeadLetterSink(dlq, opts.appId, Nil), opts)

    assert(table.toDF.select("id").as[Long].collect().toSet === Set(1L))
    val dead = dlq.toDF.collect()
    assert(dead.length === 2)
    val errors = dead.map(_.getAs[String]("error"))
    assert(errors.exists(_.contains("when")), "coercion failure error missing")
    assert(errors.contains("deserialization failed"))
    // deserialization failures carry the original bytes, base64'd
    assert(dead.exists(r => r.getAs[String]("base64_bytes") != null))
  }

  test("schema drift mid-stream: next batch writes the evolved schema, old rows null-fill") {
    val tablePath = tmpDir("drift-table")
    val table = DeltaTable.forPath(spark, tablePath).create(schema)
    val opts = IngestOptions(appId = "drift")

    IngestPipeline.processBatch(
      kafkaShape(Seq((1L, """{"id": 1, "date": "default"}""")).toDF("offset", "value")),
      0L, table, NoopDeadLetterSink, opts)

    // external writer evolves the schema (the reference's alter_schema)
    table.updateSchema(StructType(Seq(
      StructField("id", LongType),
      StructField("color", StringType),
      StructField("date", StringType))))

    IngestPipeline.processBatch(
      kafkaShape(Seq(
        (2L, """{"id": 2, "color": "red", "date": "default"}"""),
        (3L, """{"id": 3, "color": "blue", "date": "default"}""")).toDF("offset", "value")),
      1L, table, NoopDeadLetterSink, opts)

    val back = DeltaTable.forPath(spark, tablePath).toDF.orderBy("id").collect()
    assert(back.map(_.getAs[Long]("id")).toSeq === Seq(1L, 2L, 3L))
    assert(back.head.isNullAt(back.head.fieldIndex("color")))
    assert(back.drop(1).map(_.getAs[String]("color")).toSeq === Seq("red", "blue"))
  }

  test("kafka meta + substr transforms populate derived columns (flagship shape)") {
    val tablePath = tmpDir("meta-table")
    val s = StructType(Seq(
      StructField("id", LongType),
      StructField("modified", StringType),
      StructField("date", StringType),
      StructField("_kafka_offset", LongType)))
    val table = DeltaTable.forPath(spark, tablePath).create(s, Seq("date"))
    val opts = IngestOptions(appId = "meta",
      transforms = Seq(
        "date" -> "substr(modified, `0`, `10`)",
        "_kafka_offset" -> "kafka.offset"))
    IngestPipeline.processBatch(
      kafkaShape(Seq((7L, """{"id": 1, "modified": "2021-03-16T14:38:58Z"}"""))
        .toDF("offset", "value")),
      0L, table, NoopDeadLetterSink, opts)
    val r = table.toDF.head()
    assert(r.getAs[String]("date") === "2021-03-16")
    assert(r.getAs[Long]("_kafka_offset") === 7L)
  }

  test("a clean batch commits the DLQ txn with no DLQ job and no DLQ file") {
    val clean = kafkaShape(Seq(
      (1L, """{"id": 1, "date": "a"}"""),
      (2L, """{"id": 2, "date": "b"}""")).toDF("offset", "value"))
    def run(sink: DeltaTable => DeadLetterSink): (Int, DeltaTable, DeltaTable) = {
      val table = DeltaTable.forPath(spark, tmpDir("clean-table")).create(schema)
      val dlq = DeltaTable.forPath(spark, tmpDir("clean-dlq"))
        .create(PipelineStages.DeadLetterSchema)
      val opts = IngestOptions(appId = "clean", dlqTablePath = Some(dlq.path))
      val jobs = jobsDuring(IngestPipeline.processBatch(clean, 7L, table, sink(dlq), opts))
      (jobs.size, table, dlq)
    }
    val (noopJobs, _, _) = run(_ => NoopDeadLetterSink)
    val (dlqJobs, table, dlq) = run(new DeltaDeadLetterSink(_, "clean", Nil))
    assert(dlqJobs === noopJobs, "the DLQ write of a clean batch ran Spark jobs")
    assert(table.toDF.count() === 2L)
    // the DLQ watermark still advances: one version with the txn, no add
    assert(dlq.snapshot.txns.get("clean-dlq") === Some(7L))
    val last = dlq.log.readVersion(dlq.log.latestVersion())
    assert(last.flatMap(_.txn).map(_.version) === Seq(7L))
    assert(last.flatMap(_.add).isEmpty)
    assert(dlq.toDF.count() === 0L)
  }

  test("a batch replayed after its main commit dead-letters exactly once") {
    val tsSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("when", TimestampType)))
    val table = DeltaTable.forPath(spark, tmpDir("replay-table")).create(tsSchema)
    val dlq = DeltaTable.forPath(spark, tmpDir("replay-dlq")).create(PipelineStages.DeadLetterSchema)
    val opts = IngestOptions(appId = "replay", dlqTablePath = Some(dlq.path))
    val batch = kafkaShape(Seq(
      (1L, """{"id": 1, "when": "2021-11-11T22:11:58Z"}"""),
      (2L, """{"id": 2, "when": "not a timestamp"}"""),
      (3L, """this is not json at all""")
    ).toDF("offset", "value"))
    // batch 4's main commit landed, then the process died before its DLQ
    // commit: the replay's main append is an idempotent skip
    IngestPipeline.processBatch(batch, 4L, table, NoopDeadLetterSink, opts)
    val sink = new DeltaDeadLetterSink(dlq, opts.appId, Nil)
    IngestPipeline.processBatch(batch, 4L, table, sink, opts)
    assert(dlq.toDF.count() === 2L)
    assert(dlq.snapshot.txns.get("replay-dlq") === Some(4L))
    IngestPipeline.processBatch(batch, 4L, table, sink, opts)
    assert(dlq.toDF.count() === 2L)
    assert(table.toDF.select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("undecodable payloads dead-letter as one-line base64, byte-exact") {
    val payload = Array.tabulate[Byte](200)(i => (i * 37 + 0x80).toByte)
    val key = "spark.sql.chunkBase64String.enabled"
    val before = spark.conf.getOption(key)
    try Seq("true", "false").foreach { chunk =>
      spark.conf.set(key, chunk)
      val staged = PipelineStages(
        kafkaShape(Seq((1L, payload)).toDF("offset", "value")), schema, IngestOptions())
      val b64 = PipelineStages.split(staged)._2.select("base64_bytes").as[String].collect()
      assert(b64.length === 1)
      assert(!b64.head.exists(c => c == '\r' || c == '\n'), s"line breaks with $key=$chunk")
      assert(java.util.Base64.getDecoder.decode(b64.head).sameElements(payload))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
