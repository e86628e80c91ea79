package ingestbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.coercions.Coercions
import graft.delta.{Actions, DeltaTable, Snapshot}
import graft.streaming._

/** `bulk` and `dirty`: a closed loop of pre-staged batches through
  * `IngestPipeline.processBatch`, each handed over only after the previous
  * one returned, with a Delta DLQ configured. */
object Closed {
  val BatchSize = 5000
  val Warmup = 2
  val AppId = "ingestbench"

  final case class Batch(id: Long, handoffMs: Long, endMs: Long, ms: Double)

  final case class Phase(batches: Seq[Batch], main: DeltaTable, dlq: DeltaTable, commits: Seq[Commit],
                         dlqCommits: Seq[Commit], readback: Readback, verdict: Verdict) {
    private def ts(cs: Seq[Commit]): Map[Long, Commit] =
      cs.flatMap(c => c.batch.map(_ -> c)).toMap
    lazy val mainByBatch: Map[Long, Commit] = ts(commits)
    lazy val dlqByBatch: Map[Long, Commit] = ts(dlqCommits)
    def batchMs: Seq[Double] = batches.map(_.ms)
    /** Rows committed to main + DLQ by the timed batches, read from the logs. */
    def committed: Long = batches.map { b =>
      Seq(mainByBatch.get(b.id), dlqByBatch.get(b.id)).flatten
        .map(_.metrics.getOrElse("numOutputRows", "0").toLong).sum
    }.sum
    /** Hand-off → `commitInfo.timestamp` of the main version holding the batch. */
    def latencies: Seq[Double] = batches.flatMap(b =>
      mainByBatch.get(b.id).map(c => (c.ts - b.handoffMs).toDouble))
  }

  /** Staged batches plus, per batch, what the generator put in it. */
  final class Pool(spark: SparkSession, seed: Long, badShare: Double, cores: Int) {
    val frames = mutable.ArrayBuffer.empty[DataFrame]
    private val parts = mutable.ArrayBuffer.empty[Expected]
    /** Generate the next batch inside Spark tasks, one slice per core (the
      * shape a Kafka micro-batch arrives in), and materialize it. */
    private def make(index: Int): (DataFrame, Expected) = {
      val exp = new Expected(seed, badShare, live = false)
      val base = index.toLong * BatchSize
      val now = System.currentTimeMillis()
      (0 until BatchSize).foreach(k => exp.record(base + k, now))
      val (s, b, n) = (seed, badShare, cores)
      val rows = spark.sparkContext.parallelize(0 until n, n).flatMap { part =>
        (part * BatchSize / n until (part + 1) * BatchSize / n).iterator
          .map(k => Gen.row(s, b, base + k, now, live = false))
      }
      (spark.createDataFrame(rows, Gen.KafkaSchema).localCheckpoint(), exp)
    }
    /** Stage `n` more batches, their jobs submitted side by side. */
    def stageMany(n: Int): Unit = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val made = (frames.size until frames.size + n).map(i => Future(make(i)))
        .map(Await.result(_, scala.concurrent.duration.Duration.Inf))
      frames ++= made.map(_._1)
      parts ++= made.map(_._2)
    }
    def apply(i: Int): DataFrame = { while (i >= frames.size) stageMany(1); frames(i) }
    /** What the generator put in batches `from` until `until`. */
    def expected(from: Int, until: Int): Expected = {
      val e = new Expected(seed, badShare, live = false)
      parts.slice(from, until).foreach(e.absorb)
      e
    }
  }

  def opts(dlqPath: String): IngestOptions =
    IngestOptions(appId = AppId, transforms = Gen.Transforms, dlqTablePath = Some(dlqPath))

  /** Pool batches from 0 with the same batch ids into fresh tables under
    * `dir`: `Warmup` untimed batches (code generation, the first Parquet
    * writes), then timed batches until `seconds` of batch time. One batch is
    * one version, so the table's first checkpoint (version 10) falls inside
    * the timed region of every run with 8 to 17 timed batches. */
  def phase(spark: SparkSession, pool: Pool, dir: String, seconds: Int, tracer: Option[Tracer]): Phase = {
    val main = DeltaTable.forPath(spark, s"$dir/main").create(Gen.TableSchema, Seq("date"))
    val dlq = DeltaTable.forPath(spark, s"$dir/dlq").create(PipelineStages.DeadLetterSchema)
    val o = opts(dlq.path)
    val plain: DeadLetterSink = new DeltaDeadLetterSink(dlq, AppId, Nil)
    val sink = tracer.fold(plain)(t => new TimedDeadLetterSink(plain, t))
    // post-commit hooks mark when each commit (and its checkpoint) is done
    tracer.foreach { t =>
      def hook(name: String)(v: Long, prev: Snapshot, actions: Seq[Actions.Action]): Unit = {
        val now = System.currentTimeMillis()
        t.add(Span(name, now, now, "batch", actions.flatMap(_.txn).headOption.fold(-1L)(_.version)))
      }
      main.log.onPostCommit(hook("commit"))
      dlq.log.onPostCommit(hook("dlq_commit"))
    }
    var failed = 0L
    def one(id: Int): Batch = {
      val df = pool(id)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try IngestPipeline.processBatch(df, id.toLong, main, sink, o)
      catch { case NonFatal(e) => failed += 1; System.err.println(s"[ingestbench] batch $id failed: $e") }
      Batch(id.toLong, w0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e6)
    }
    (0 until Warmup).foreach(one)
    Main.mark("warm-up done")
    val batches = mutable.ArrayBuffer.empty[Batch]
    var id = Warmup
    while (batches.map(_.ms).sum < seconds * 1000.0) {
      val b = one(id)
      tracer.foreach(_.add(Span("batch", b.handoffMs, b.endMs, "", b.id)))
      batches += b
      id += 1
    }
    Main.mark(s"${batches.size} timed batches done")
    val rb = Readback.run(spark, main.path)
    val verdict = Checker.check(spark, pool.expected(0, id), main.path, Some(dlq.path), AppId,
      (id - 1).toLong, failed, rb.counts)
    Phase(batches.toSeq, main, dlq, LogReader.commits(main, AppId),
      LogReader.commits(dlq, AppId + "-dlq"), rb, verdict)
  }

  def e2e(p: Phase, setupS: Double): Map[String, Double] = {
    val ms = p.batchMs
    Map(
      "setup_s" -> setupS,
      "msgs_per_s" -> p.committed / (ms.sum / 1000.0),
      "batch_ms_p50" -> Stats.median(ms),
      "batch_ms_tail" -> Stats.tail(ms),
      "e2e_latency_ms_p50" -> Stats.median(p.latencies),
      // one latency per batch, so too few samples for a p99: the slowest batch
      "e2e_latency_ms_p99" -> Stats.tail(p.latencies),
      "readback_ms" -> p.readback.ms)
  }

  /** Median wall ms of a noop write of `df`: runs every column to completion. */
  private def noopMs(df: DataFrame, reps: Int): Double = Stats.median((1 to reps).map { _ =>
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  })

  /** Prefix ablation over one staged batch: decode+parse, + coercion,
    * + transforms (the full `PipelineStages.apply`), + the ok side of the split. */
  def ablation(batch: DataFrame, reps: Int = 5): Map[String, Double] = {
    val schema = Gen.TableSchema
    val decoded = batch.filter(col("value").isNotNull && length(col("value")) > 0)
      .withColumn("_json", PipelineStages.decodeToJson(col("value"), MessageFormat.Json))
      .withColumn("_v", try_parse_json(col("_json")))
    val (msg, errs) = Coercions.coerceMessage(col("_v"), schema)
    val coerced = decoded.withColumn("msg", msg).withColumn("_errs0", errs)
    val applied = PipelineStages(batch, schema, IngestOptions(transforms = Gen.Transforms))
    val ok = PipelineStages.split(applied)._1
    val t = Seq(decoded, coerced, applied, ok).map(noopMs(_, reps))
    Map(
      "serialization.decode_ms" -> t(0),
      "coercions.coerce_ms" -> (t(1) - t(0)),
      "transforms.transform_ms" -> (t(2) - t(1)),
      "streaming.split_ms" -> (t(3) - t(2)),
      "ablation.message_path_ms" -> t(3))
  }

  /** Per-layer numbers of a traced phase, medians over its timed batches. */
  def layers(p: Phase, jobs: JobListener, tracer: Tracer, cores: Int): Map[String, Double] = {
    val dlqSpans = tracer.named("dlq").map(s => s.batch -> s).toMap
    val commitSpans = tracer.named("commit").map(s => s.batch -> s).toMap
    val per = p.batches.map { b =>
      val js = jobs.between(b.handoffMs, b.endMs)
      // the main append's jobs: everything unattributed up to its commit
      val commit = p.mainByBatch.get(b.id)
      val writes = js.filter(j => j.layer == "" && commit.forall(j.start <= _.ts))
      // the append is done at its post-commit hook (stats, rename, log
      // commit and, every 10th version, the checkpoint)
      val view = Layers.BatchView(b.handoffMs, b.ms, js, writes, commitSpans.get(b.id).map(_.start),
        commit.map(_.adds).getOrElse(Nil), commit.exists(_.isCheckpointVersion))
      Layers.perBatch(view, p.main.path, cores) ++ Map(
        "streaming.dlq_ms" -> dlqSpans.get(b.id).map(_.ms).getOrElse(0.0),
        "streaming.dlq_rows_scanned" ->
          js.filter(_.layer == "dlq").flatMap(_.stages.values).map(_.recordsRead).sum.toDouble,
        "streaming.dlq_rows_written" ->
          p.dlqByBatch.get(b.id).map(_.metrics.getOrElse("numOutputRows", "0").toDouble).getOrElse(0.0))
    }
    val scanned = per.map(_("streaming.dlq_rows_scanned")).sum
    val written = per.map(_("streaming.dlq_rows_written")).sum
    val adds = p.batches.flatMap(b => p.mainByBatch.get(b.id)).flatMap(_.adds)
    Layers.medians(per) ++ Layers.tableEnd(p.main, p.commits, adds) ++ Map(
      "streaming.dlq_useful_ratio" -> (if (scanned > 0) written / scanned else 0.0),
      "streaming.msgs_per_batch" -> BatchSize.toDouble,
      "delta.compact_ms" -> 0.0,
      "delta.compact_bytes_rewritten" -> 0.0,
      "delta.compact_bytes_growth" -> 0.0)
  }
}
