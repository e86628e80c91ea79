package ingestbench

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.delta.{Actions, DeltaTable}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest of the usual tail percentiles with at least ten samples
    * beyond it; with fewer than twenty samples no percentile above the
    * median has that, and the tail is the maximum. */
  def tailLevel(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(p => n * (1 - p) >= 10).filter(_ > 0.5).getOrElse(1.0)

  /** The percentile at `tailLevel` of the sample count. */
  def tail(xs: Seq[Double]): Double = pct(xs, tailLevel(xs.size))
}

/** One commit of a table, read back from its `_delta_log`. */
final case class Commit(version: Long, ts: Long, operation: String, batch: Option[Long],
                        adds: Seq[Actions.AddFile], metrics: Map[String, String]) {
  /** Whether the log checkpoints at this version (the default interval of
    * 10; the benchmark's tables do not override it). */
  def isCheckpointVersion: Boolean = version > 0 && version % 10 == 0
}

object LogReader {
  def commits(table: DeltaTable, appId: String): Seq[Commit] = {
    val latest = table.log.latestVersion()
    (0L to latest).map { v =>
      val actions = table.log.readVersion(v)
      val ci = actions.flatMap(_.commitInfo).headOption
      Commit(v, ci.map(_.timestamp).getOrElse(0L), ci.map(_.operation).getOrElse(""),
        actions.flatMap(_.txn).find(_.appId == appId).map(_.version),
        actions.flatMap(_.add), ci.flatMap(_.operationMetrics).getOrElse(Map.empty))
    }
  }

  /** Bytes of everything under `_delta_log` (commits, checkpoints, sidecars). */
  def logBytes(path: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
    size(new java.io.File(path, "_delta_log"))
  }
}

/** Reader-side cost of the produced layout: a cold `forPath` and the
  * canonical `groupBy("date").count()`, repeated at least `reps` times and
  * for at least `minMs`, medians reported. A small table reads in ~0.4 s,
  * so the time floor gives it more samples against a burst of host load. */
final case class Readback(ms: Double, snapshotMs: Double, scanMs: Double, files: Long,
                          counts: Map[String, Long])

object Readback {
  def run(spark: SparkSession, path: String, reps: Int = 5, minMs: Double = 5000): Readback = {
    val start = System.nanoTime()
    def once() = {
      val t0 = System.nanoTime()
      val t = DeltaTable.forPath(spark, path)
      val snap = t.snapshot
      val t1 = System.nanoTime()
      val counts = t.toDF.groupBy(col("date")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val t2 = System.nanoTime()
      ((t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, snap.files.size.toLong, counts)
    }
    val samples = scala.collection.mutable.ArrayBuffer(once())
    while (samples.size < reps || (System.nanoTime() - start) / 1e6 < minMs) samples += once()
    Readback(Stats.median(samples.map(_._1).toSeq), Stats.median(samples.map(_._2).toSeq),
      Stats.median(samples.map(_._3).toSeq), samples.last._4, samples.last._5)
  }
}

/** Host guard: core count, JVM, and fixed CPU and disk calibrations. */
object Host {
  def cores: Int = Runtime.getRuntime.availableProcessors()
  def jvm: String = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}"

  /** Wall ms of SHA-256 over 32 MiB on one thread. */
  def cpuCalibMs(): Double = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 32) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  /** Wall ms to write and fsync 16 MiB in `dir`. */
  def diskCalibMs(dir: String): Double = {
    val f = new java.io.File(dir, s"calib-${System.nanoTime()}.bin")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    val out = new java.io.FileOutputStream(f)
    try {
      var i = 0
      while (i < 16) { out.write(buf); i += 1 }
      out.getFD.sync()
    } finally out.close()
    val ms = (System.nanoTime() - t0) / 1e6
    f.delete()
    ms
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
