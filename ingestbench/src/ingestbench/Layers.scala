package ingestbench

import org.apache.hadoop.fs.Path

import graft.delta.{Actions, DeltaTable, ParquetStats}

/** Per-layer numbers both loops share: the append's write and commit, the
  * engine under it, and the table the run leaves behind. */
object Layers {
  /** One traced batch (a `processBatch` call or a trigger) as the listeners
    * and the log saw it. `writes` are the append's jobs, `finalizeEnd` when
    * the append was done, `adds` the files it committed. */
  final case class BatchView(startMs: Long, wallMs: Double, jobs: Seq[JobRec], writes: Seq[JobRec],
                             finalizeEnd: Option[Long], adds: Seq[Actions.AddFile], checkpoint: Boolean)

  /** Task times of the widest stage among `jobs` (where skew can show). */
  private def widestStageTasks(jobs: Seq[JobRec]): Seq[Double] = {
    val st = jobs.flatMap(_.stages.values)
    if (st.isEmpty) Nil else st.maxBy(_.tasks).taskMs.map(_.toDouble).toSeq
  }

  def perBatch(b: BatchView, tablePath: String, cores: Int): Map[String, Double] = {
    val fs = new Path(tablePath).getFileSystem(new org.apache.hadoop.conf.Configuration())
    val statsT0 = System.nanoTime()
    b.adds.foreach(a => ParquetStats.forFile(fs, new Path(tablePath, a.path), Set("date")))
    val statsMs = (System.nanoTime() - statsT0) / 1e6
    val wj = b.writes.lastOption
    val stages = b.jobs.flatMap(_.stages.values)
    val writeTasks = widestStageTasks(b.writes)
    Map(
      "streaming.plan_ms" -> b.writes.headOption.map(j => (j.start - b.startMs).toDouble).getOrElse(0.0),
      "delta.write_job_ms" -> wj.map(j => (j.end - j.start).toDouble).getOrElse(0.0),
      "delta.finalize_ms" -> (for (w <- wj; e <- b.finalizeEnd) yield (e - w.end).toDouble).getOrElse(0.0),
      "delta.stats_ms" -> statsMs,
      "delta.files_per_batch" -> b.adds.size.toDouble,
      "spark.jobs_per_batch" -> b.jobs.size.toDouble,
      "spark.stages_per_batch" -> stages.size.toDouble,
      "spark.tasks_per_batch" -> stages.map(_.tasks).sum.toDouble,
      "spark.executor_run_ms" -> stages.map(_.runMs).sum.toDouble,
      "spark.executor_cpu_ms" -> stages.map(_.cpuNs).sum / 1e6,
      "spark.jvm_gc_ms" -> stages.map(_.gcMs).sum.toDouble,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark.task_skew" ->
        (if (writeTasks.isEmpty) 0.0 else writeTasks.max / math.max(Stats.median(writeTasks), 1.0)),
      "spark.busy_ratio" -> stages.map(_.runMs).sum / (math.max(b.wallMs, 1.0) * cores),
      "checkpoint" -> (if (b.checkpoint) 1.0 else 0.0))
  }

  /** Medians over the batches, and the checkpoint's share of finalize:
    * median on checkpoint versions minus median on the others. */
  def medians(per: Seq[Map[String, Double]]): Map[String, Double] = {
    val (ckpt, plain) = per.partition(_("checkpoint") == 1.0)
    def finalize(xs: Seq[Map[String, Double]]) = Stats.median(xs.map(_("delta.finalize_ms")))
    per.head.keys.filterNot(_ == "checkpoint").map(k => k -> Stats.median(per.map(_(k)))).toMap +
      ("delta.checkpoint_ms" -> (if (ckpt.isEmpty || plain.isEmpty) 0.0 else finalize(ckpt) - finalize(plain)))
  }

  /** The table at the end of the run; `adds` are the timed batches' files. */
  def tableEnd(table: DeltaTable, commits: Seq[Commit], adds: Seq[Actions.AddFile]): Map[String, Double] = {
    val live = table.snapshot.files
    Map(
      "delta.bytes_per_file_p50" -> Stats.median(adds.map(_.size.toDouble)),
      "delta.log_versions" -> (table.log.latestVersion() + 1).toDouble,
      "delta.log_bytes" -> LogReader.logBytes(table.path).toDouble,
      "delta.write_amplification" ->
        commits.flatMap(_.adds).map(_.size).sum.toDouble / math.max(live.map(_.size).sum, 1L),
      "delta.live_files_end" -> live.size.toDouble)
  }
}
