package ingestbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.delta.DeltaTable
import graft.streaming.{DeltaDeadLetterSink, IngestPipeline, PipelineStages}

/** Ingest benchmark harness: one workload, one seed, one run.
  *
  * {{{
  * Main --workload bulk|dirty|trickle --seed N --seconds S --trace 0|1
  *      --cores C --rate R --work DIR --traces DIR --budget SECONDS
  * Main --selftest --work DIR
  * }}}
  * Prints `RESULT <json>` as its last stdout line; `run.py` turns it into
  * the benchmark's result line.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, cores: Int = Host.cores, rate: Int = 0,
                        work: String = "", traces: String = "", budget: Int = 170,
                        selftest: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, a.copy(cores = v.toInt))
    case "--rate" :: v :: t => parse(t, a.copy(rate = v.toInt))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--traces" :: v :: t => parse(t, a.copy(traces = v))
    case "--budget" :: v :: t => parse(t, a.copy(budget = v.toInt))
    case "--selftest" :: t => parse(t, a.copy(selftest = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  val DirtyShare = 0.01

  def session(cores: Int, work: String): SparkSession = {
    val s = graft.GraftSession.builder("ingestbench", Some(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work is required")
    val watchdog = new Thread(() => {
      Thread.sleep(a.budget * 1000L)
      System.err.println(s"[ingestbench] over the ${a.budget} s budget, aborting")
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    if (a.selftest) { sys.exit(if (selftest(a)) 0 else 1) }
    require(Set("bulk", "dirty", "trickle").contains(a.workload), s"unknown workload '${a.workload}'")
    require(a.workload != "trickle" || a.rate > 0, "trickle needs --rate")

    val calib0 = System.currentTimeMillis()
    val hostBefore = Map("cpu_calib_ms" -> Host.cpuCalibMs(), "disk_calib_ms" -> Host.diskCalibMs(a.work))
    // set-up time runs from JVM start, with the host calibration taken out
    val setupStart = ManagementFactory.getRuntimeMXBean.getStartTime + (System.currentTimeMillis() - calib0)
    val spark = session(a.cores, a.work)
    val out = a.workload match {
      case "trickle" => trickle(spark, a, setupStart)
      case w => closed(spark, a, if (w == "dirty") DirtyShare else 0.0, setupStart)
    }
    val hostAfter = Map("cpu_calib_ms" -> Host.cpuCalibMs(), "disk_calib_ms" -> Host.diskCalibMs(a.work))
    val host = Map("nproc" -> Host.cores, "cores_used" -> a.cores, "jvm" -> Host.jvm,
      "before" -> hostBefore, "after" -> hostAfter)
    println("RESULT " + json.writeValueAsString(out + ("host" -> host)))
    spark.stop()
  }

  private val t0 = System.currentTimeMillis()
  def mark(what: String): Unit =
    System.err.println(f"[ingestbench] +${(System.currentTimeMillis() - t0) / 1000.0}%.1f s $what")

  private def verdictFields(v: Verdict): Map[String, Any] = Map(
    "attempted" -> v.offered, "failed" -> v.errors, "correct" -> v.ok,
    "verdict" -> v.toString)

  private def closed(spark: SparkSession, a: Args, badShare: Double, setupStart: Long): Map[String, Any] = {
    val pool = new Closed.Pool(spark, a.seed, badShare, a.cores)
    mark("session ready")
    pool.stageMany(Closed.Warmup + a.seconds)
    mark(s"${pool.frames.size} batches staged")
    val p1 = Closed.phase(spark, pool, s"${a.work}/untraced", a.seconds, None)
    val setupS = (p1.batches.head.handoffMs - setupStart) / 1000.0
    val e2e = Closed.e2e(p1, setupS) + ("peak_rss_mb" -> Host.peakRssMb())
    val info = Map("batches" -> p1.batches.size, "batch_size" -> Closed.BatchSize,
      "batch_ms" -> p1.batchMs.map(m => math.round(m)),
      "tail_level" -> Stats.tailLevel(p1.batches.size),
      "latency_samples" -> p1.latencies.size, "latency_tail_level" -> Stats.tailLevel(p1.latencies.size))
    if (!a.trace) return verdictFields(p1.verdict) ++ Map("metrics" -> e2e, "info" -> info)

    val tracer = new Tracer
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val p2 = try Closed.phase(spark, pool, s"${a.work}/traced", a.seconds, Some(tracer))
    finally { jobs.settle(); spark.sparkContext.removeSparkListener(jobs) }
    val ablation = Closed.ablation(pool(0))
    val layers = Closed.layers(p2, jobs, tracer, a.cores)
    val p50 = Stats.median(p2.batchMs)
    val v = p1.verdict + p2.verdict
    // the parts of one processBatch, in order: planning up to the first job,
    // the message path, the Parquet write, the commit, the DLQ write
    val layerSum = layers("streaming.plan_ms") + ablation("ablation.message_path_ms") +
      layers("delta.write_job_ms") + layers("delta.finalize_ms") + layers("streaming.dlq_ms")
    val all = layers ++ ablation ++ readbackLayers(p2.readback) ++ streamingZeros ++ Map(
      "gen.lateness_ms_p99" -> 0.0, "gen.backlog_end_msgs" -> 0.0,
      "trace.overhead_ms" -> (p50 - Stats.median(p1.batchMs)),
      "trace.layer_sum_ratio" -> layerSum / p50,
      "streaming.batch_ms_tail" -> e2e("batch_ms_tail"),
      "error_ratio" -> v.errors.toDouble / v.offered)
    TraceDump.write(a, tracer, jobs)
    verdictFields(v) ++ Map("metrics" -> all, "untraced" -> e2e,
      "info" -> (info + ("traced_batches" -> p2.batches.size)))
  }

  private val streamingZeros = Seq("streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.query_planning_ms", "streaming.latest_offset_ms")
    .map(_ -> 0.0).toMap

  private def readbackLayers(r: Readback): Map[String, Double] = Map(
    "readback.snapshot_ms" -> r.snapshotMs, "readback.scan_ms" -> r.scanMs,
    "readback.files_scanned" -> r.files.toDouble)

  private def trickle(spark: SparkSession, a: Args, setupStart: Long): Map[String, Any] = {
    val p1 = Open.phase(spark, a.seed, a.rate, a.seconds, a.cores, s"${a.work}/untraced")
    val setupS = (p1.readyMs - setupStart) / 1000.0
    val e2e = Open.e2e(p1, setupS) + ("peak_rss_mb" -> Host.peakRssMb())
    val info = Map("rate" -> a.rate, "triggers" -> p1.progress.size,
      "tail_level" -> Stats.tailLevel(p1.progress.size),
      "latency_samples" -> p1.latencies.size, "latency_tail_level" -> Stats.tailLevel(p1.latencies.size),
      "compact_bytes_rewritten" -> Open.rewrittenSeries(p1))
    if (!a.trace) return verdictFields(p1.verdict) ++ Map("metrics" -> e2e, "info" -> info)

    val tracer = new Tracer
    val jobs = new JobListener
    val progress = new ProgressListener
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
    val p2 = try Open.phase(spark, a.seed, a.rate, a.seconds, a.cores, s"${a.work}/traced")
    finally {
      jobs.settle()
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(progress)
    }
    progress.events.foreach(p => tracer.add(Span("trigger",
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution"),
      "", p.batchId)))
    val layers = Open.layers(p2, jobs, a.cores)
    val v = p1.verdict + p2.verdict
    val messagePathZeros = Seq("serialization.decode_ms", "coercions.coerce_ms",
      "transforms.transform_ms", "streaming.split_ms").map(_ -> 0.0).toMap
    val all = layers ++ messagePathZeros ++ readbackLayers(p2.readback) ++ Map(
      "streaming.dlq_ms" -> 0.0, "streaming.dlq_rows_scanned" -> 0.0,
      "streaming.dlq_rows_written" -> 0.0, "streaming.dlq_useful_ratio" -> 0.0,
      "trace.overhead_ms" -> (Stats.median(p2.batchMs) - Stats.median(p1.batchMs)),
      "trace.layer_sum_ratio" -> 0.0,
      "streaming.batch_ms_tail" -> e2e("batch_ms_tail"),
      "error_ratio" -> v.errors.toDouble / v.offered)
    TraceDump.write(a, tracer, jobs)
    verdictFields(v) ++ Map("metrics" -> all, "untraced" -> e2e,
      "info" -> (info + ("traced_compact_bytes_rewritten" -> Open.rewrittenSeries(p2))))
  }

  /** The checker must fail closed: clean output passes; the same table with
    * one row duplicated and another dropped is rejected as exactly that. */
  def selftest(a: Args): Boolean = {
    val spark = session(math.min(a.cores, 2), a.work)
    val pool = new Closed.Pool(spark, 7L, DirtyShare, 2)
    val main = DeltaTable.forPath(spark, s"${a.work}/self/main").create(Gen.TableSchema, Seq("date"))
    val dlq = DeltaTable.forPath(spark, s"${a.work}/self/dlq").create(PipelineStages.DeadLetterSchema)
    val sink = new DeltaDeadLetterSink(dlq, Closed.AppId, Nil)
    (0 until 2).foreach(i => IngestPipeline.processBatch(pool(i), i.toLong, main, sink,
      Closed.opts(dlq.path)))
    def verdict(): Verdict = Checker.check(spark, pool.expected(0, 2), main.path, Some(dlq.path),
      Closed.AppId, 1L, 0L, Readback.run(spark, main.path, reps = 1, minMs = 0).counts)
    val clean = verdict()
    val rows = main.toDF.orderBy(col("kafka_offset")).limit(2).collect()
    val (dupOffset, dropOffset) = (rows(0).getAs[Long]("kafka_offset"), rows(1).getAs[Long]("kafka_offset"))
    main.append(main.toDF.filter(col("kafka_offset") === dupOffset))
    main.delete(col("kafka_offset") === dropOffset)
    val tampered = verdict()
    val pass = clean.ok && !tampered.ok && tampered.duplicated == 1 && tampered.lost == 1 &&
      tampered.misrouted == 0
    println(s"selftest clean: $clean")
    println(s"selftest tampered (offset $dupOffset duplicated, $dropOffset dropped): $tampered")
    println(s"selftest ${if (pass) "PASS" else "FAIL"}")
    spark.stop()
    pass
  }
}

/** Writes the traced run's spans and jobs, one JSON object per line. */
object TraceDump {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(a: Main.Args, tracer: Tracer, jobs: JobListener): Unit = {
    val f = new java.io.File(a.traces, s"spans-${a.workload}-${a.seed}.jsonl")
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f)
    try {
      tracer.spans.foreach(s => w.println(json.writeValueAsString(s)))
      jobs.all.foreach(j => w.println(json.writeValueAsString(Map(
        "name" -> s"job:${j.layer}", "start" -> j.start, "end" -> j.end, "job" -> j.id,
        "site" -> j.site,
        "stages" -> j.stages.map { case (id, s) => Map("stage" -> id, "tasks" -> s.tasks,
          "run_ms" -> s.runMs, "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
          "records_read" -> s.recordsRead) }.toSeq))))
    } finally w.close()
    System.err.println(s"[ingestbench] spans written to $f")
  }
}
