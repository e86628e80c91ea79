package ingestbench

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.delta.DeltaTable
import graft.streaming.{IngestOptions, IngestPipeline}

/** `trickle`: an open loop. One generator thread adds messages to a
  * `MemoryStream` on a fixed schedule, whatever the pipeline does, and
  * `IngestPipeline.start` ingests them with the CLI defaults: a 2 s trigger,
  * at most 5,000 messages per batch and `minBytesPerFile` = 128 MiB, so
  * compaction runs after every batch. No DLQ. */
object Open {
  val AppId = "ingestbench"
  val TriggerMs = 2000L
  val TickMs = 50L
  val WarmBatches = 4
  type Msg = (Array[Byte], Int, Long, String, Timestamp, Int)

  final case class Phase(readyMs: Long, t0: Long, windowMsgs: Long, lateness: Seq[Double],
                         latencies: Seq[Double], lastCommitTs: Long, backlogEnd: Long,
                         progress: Seq[StreamingQueryProgress], main: DeltaTable,
                         commits: Seq[Commit], readback: Readback, verdict: Verdict) {
    def batchMs: Seq[Double] = progress.map(_.durationMs.get("triggerExecution").toDouble)
    /** Each window trigger with the append and OPTIMIZE commits made during it. */
    lazy val triggers: Seq[Trigger] = progress.map { pr =>
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
      val end = start + pr.durationMs.get("triggerExecution")
      val own = commits.filter(c => c.ts >= start && c.ts <= end)
      Trigger(pr, start, end, own.find(_.operation == "STREAMING UPDATE"), own.find(_.operation == "OPTIMIZE"))
    }
  }

  final case class Trigger(progress: StreamingQueryProgress, start: Long, end: Long,
                           append: Option[Commit], optimize: Option[Commit]) {
    def rewrittenBytes: Option[Long] = optimize.map(_.metrics.getOrElse("numRemovedBytes", "0").toLong)
  }

  def opts(ckpt: String): IngestOptions = IngestOptions(
    appId = AppId, transforms = Gen.Transforms,
    allowedLatency = java.time.Duration.ofMillis(TriggerMs),
    maxMessagesPerBatch = 5000L, checkpointLocation = Some(ckpt),
    minBytesPerFile = Some(134217728L))

  private def toMsg(r: Row): Msg =
    (r.getAs[Array[Byte]](0), r.getInt(1), r.getLong(2), r.getString(3), r.getTimestamp(4), r.getInt(5))

  /** Run one open-loop phase of `seconds` at `rate` msgs/s into a fresh table
    * under `dir`. */
  def phase(spark: SparkSession, seed: Long, rate: Int, seconds: Int, cores: Int,
            dir: String): Phase = {
    import spark.implicits._
    val exp = new Expected(seed, 0.0, live = true)
    var next = 0L
    def make(n: Int, createdMs: Long): Seq[Msg] =
      (0 until n).map { _ =>
        exp.record(next, createdMs)
        val r = Gen.row(seed, 0.0, next, createdMs, live = true)
        next += 1
        toMsg(r)
      }

    val main = DeltaTable.forPath(spark, s"$dir/main").create(Gen.TableSchema, Seq("date"))
    val perTrigger = (rate * TriggerMs / 1000).toInt
    // JIT warm-up without waiting for triggers: the same per-batch path,
    // compaction included, on a scratch table of its own
    val scratch = DeltaTable.forPath(spark, s"$dir/warm").create(Gen.TableSchema, Seq("date"))
    (0 until WarmBatches).foreach { b =>
      val rows = (0 until perTrigger).map(k => Gen.row(seed + 1, 0.0, b.toLong * perTrigger + k,
        System.currentTimeMillis(), live = true))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), Gen.KafkaSchema)
      IngestPipeline.processBatch(df, b.toLong, scratch, graft.streaming.NoopDeadLetterSink,
        opts(s"$dir/warm-ckpt"))
    }
    val stream = MemoryStream[Msg](spark, cores)
    val src = stream.toDF().toDF(Gen.KafkaSchema.fieldNames.toSeq: _*)
    val query = IngestPipeline.start(spark, src, main.path, opts(s"$dir/ckpt"))
    try {
      // two triggers' worth, committed before the window opens
      (1 to 2).foreach { _ =>
        stream.addData(make(perTrigger, System.currentTimeMillis()))
        query.processAllAvailable()
      }
      val firstWindowOffset = next
      // the ProcessingTime trigger fires on multiples of its interval since
      // the epoch; the window opens 100 ms after one and its last message is
      // due 150 ms before the trigger that closes it, so every run sees the
      // same phase and the same number of triggers
      val readyMs = System.currentTimeMillis()
      val t0 = (readyMs / TriggerMs + 1) * TriggerMs + 100
      val ticks = ((seconds * 1000L - 200) / TickMs).toInt
      val perTick = (rate * TickMs / 1000).toInt
      val lateness = new Array[Double](ticks)
      val gen = new Thread(() => {
        var k = 0
        while (k < ticks) {
          val due = t0 + k * TickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          stream.addData(make(perTick, due))
          lateness(k) = (System.currentTimeMillis() - due).toDouble
          k += 1
        }
      }, "ingestbench-generator")
      gen.setDaemon(true)
      gen.start()
      gen.join()
      val tEnd = t0 + ticks * TickMs
      query.processAllAvailable()
      query.stop()
      val progress = query.recentProgress.toSeq.filter(p =>
        p.numInputRows > 0 && java.time.Instant.parse(p.timestamp).toEpochMilli >= t0)
      val commits = LogReader.commits(main, AppId)
      // per message: creation stamp → commitInfo.timestamp of the append
      // version whose files hold it, read from the log and those files
      val appends = commits.filter(_.operation == "STREAMING UPDATE")
      val fileTs = appends.flatMap(c => c.adds.map(a => new Path(main.path, a.path).getName -> c.ts)).toMap
      val created = spark.read.option("basePath", main.path)
        .parquet(appends.flatMap(_.adds).map(a => new Path(main.path, a.path).toString): _*)
        .select(col("created_ms"), org.apache.spark.sql.functions.input_file_name().as("f"))
        .filter(col("created_ms") >= t0)
        .as[(Long, String)].collect()
      val commitOf = created.map { case (c, f) => c -> fileTs(new Path(f).getName) }
      val latencies = commitOf.map { case (c, ts) => (ts - c).toDouble }.toSeq
      val rb = Readback.run(spark, main.path)
      val lastBatch = Option(new java.io.File(s"$dir/ckpt/commits").list()).toSeq.flatten
        .filter(_.forall(_.isDigit)).map(_.toLong).maxOption.getOrElse(-1L)
      val verdict = Checker.check(spark, exp, main.path, None, AppId, lastBatch, 0L, rb.counts)
      Phase(readyMs, t0, next - firstWindowOffset, lateness.toSeq, latencies,
        commitOf.map(_._2).maxOption.getOrElse(tEnd), commitOf.count(_._2 > tEnd).toLong,
        progress, main, commits, rb, verdict)
    } finally if (query.isActive) query.stop()
  }

  def e2e(p: Phase, setupS: Double): Map[String, Double] = {
    val ms = p.batchMs
    Map(
      "setup_s" -> setupS,
      "msgs_per_s" -> p.windowMsgs * 1000.0 / (p.lastCommitTs - p.t0),
      "batch_ms_p50" -> Stats.median(ms),
      "batch_ms_tail" -> Stats.tail(ms),
      "e2e_latency_ms_p50" -> Stats.median(p.latencies),
      "e2e_latency_ms_p99" -> Stats.tail(p.latencies),
      "readback_ms" -> p.readback.ms)
  }

  /** Per-layer numbers of a traced phase, medians over its window triggers. */
  def layers(p: Phase, jobs: JobListener, cores: Int): Map[String, Double] = {
    val per = p.triggers.map { t =>
      val js = jobs.between(t.start, t.end)
      // unattributed jobs up to the append's commit are the append's, those
      // after it up to the OPTIMIZE commit are compaction's
      val writes = js.filter(j => j.layer == "" && t.append.forall(j.start <= _.ts))
      val compacts = js.filter(j => j.layer == "compact" || (j.layer == "" &&
        t.append.exists(j.start > _.ts) && t.optimize.forall(j.start <= _.ts)))
      // the append is done when compaction starts
      val view = Layers.BatchView(t.start, t.progress.durationMs.get("triggerExecution").toDouble, js, writes,
        compacts.headOption.map(_.start), t.append.toSeq.flatMap(_.adds),
        (t.append ++ t.optimize).exists(_.isCheckpointVersion))
      def dur(k: String): Double = Option(t.progress.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      Layers.perBatch(view, p.main.path, cores) ++ Map(
        "streaming.trigger_ms" -> dur("triggerExecution"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.msgs_per_batch" -> t.progress.numInputRows.toDouble,
        "delta.compact_ms" -> (for (c <- compacts.headOption; o <- t.optimize) yield (o.ts - c.start).toDouble)
          .getOrElse(0.0),
        "delta.compact_bytes_rewritten" -> t.rewrittenBytes.getOrElse(0L).toDouble)
    }
    Layers.medians(per) ++
      Layers.tableEnd(p.main, p.commits, p.triggers.flatMap(_.append).flatMap(_.adds)) ++ Map(
      // least-squares slope of bytes rewritten per batch over the window
      "delta.compact_bytes_growth" -> slope(per.map(_("delta.compact_bytes_rewritten"))),
      "gen.lateness_ms_p99" -> Stats.pct(p.lateness, 0.99),
      "gen.backlog_end_msgs" -> p.backlogEnd.toDouble)
  }

  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val xs = ys.indices.map(_.toDouble)
      val mx = xs.sum / xs.size
      val my = ys.sum / ys.size
      xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / xs.map(x => (x - mx) * (x - mx)).sum
    }

  /** Bytes each window trigger's OPTIMIZE rewrote, in order. */
  def rewrittenSeries(p: Phase): Seq[Long] = p.triggers.flatMap(_.rewrittenBytes)
}
