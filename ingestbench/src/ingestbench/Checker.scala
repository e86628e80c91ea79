package ingestbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.delta.DeltaTable

/** Verdict of the output checker. `errors` is the numerator of
  * `error_ratio`: lost + duplicated + misrouted messages, failed batches,
  * per-date count mismatches, and one for each wrong `txn` watermark. */
final case class Verdict(offered: Long, lost: Long, duplicated: Long, misrouted: Long,
                         failedBatches: Long, dateMismatch: Long, txnErrors: Long,
                         notes: Seq[String]) {
  def errors: Long = lost + duplicated + misrouted + failedBatches + dateMismatch + txnErrors
  def ok: Boolean = errors == 0
  def +(o: Verdict): Verdict = Verdict(offered + o.offered, lost + o.lost,
    duplicated + o.duplicated, misrouted + o.misrouted, failedBatches + o.failedBatches,
    dateMismatch + o.dateMismatch, txnErrors + o.txnErrors, notes ++ o.notes)
}

/** Output checker, run on every workload after the timed region:
  *  - every good message is in the main table exactly once
  *    (rows = distinct offsets = good messages, and they are the right offsets);
  *  - every bad message is in the DLQ exactly once (matched by payload);
  *  - the last `txn` version of the main (and DLQ) table is the last batch id;
  *  - per-date counts of the canonical `groupBy("date").count()` equal the
  *    generator's own counts.
  */
object Checker {
  def check(spark: SparkSession, exp: Expected, mainPath: String, dlqPath: Option[String],
            appId: String, lastBatchId: Long, failedBatches: Long,
            dateCounts: Map[String, Long]): Verdict = {
    import spark.implicits._
    val notes = mutable.ArrayBuffer.empty[String]
    val main = DeltaTable.forPath(spark, mainPath)
    val offsets = main.toDF.select(col("kafka_offset")).as[Long].collect()
    val distinct = new mutable.HashSet[Long]
    offsets.foreach(distinct += _)
    val duplicatedMain = offsets.length - distinct.size
    val badInMain = distinct.count(exp.badOffsets.contains).toLong
    val goodInMain = distinct.size - badInMain
    val lostGood = exp.good - goodInMain
    // offsets the generator never offered cannot be in the table
    val foreign = distinct.count(o => o < exp.first || o >= exp.first + exp.offered).toLong

    var lostBad = 0L; var duplicatedDlq = 0L; var goodInDlq = 0L
    dlqPath match {
      case Some(p) =>
        val found = mutable.HashMap.empty[String, Int]
        DeltaTable.forPath(spark, p).toDF.select("base64_bytes", "json_string")
          .as[(String, String)].collect().foreach { case (b, j) =>
            val k = Expected.dlqKey(b, j)
            found(k) = found.getOrElse(k, 0) + 1
          }
        exp.badKeys.foreach { case (k, n) =>
          val m = found.getOrElse(k, 0)
          if (m < n) lostBad += n - m else duplicatedDlq += m - n
        }
        val stray = found.keysIterator.filterNot(exp.badKeys.contains).toSeq
        goodInDlq = stray.map(found(_).toLong).sum
        stray.headOption.foreach(k => notes += s"unexpected dead letter: ${k.take(120)}")
      case None =>
        // no DLQ configured: bad messages are dropped by design, so only
        // their absence from the main table is checked (badInMain)
        if (exp.badKeys.nonEmpty) notes += "bad messages offered without a DLQ"
    }

    var txnErrors = 0L
    val txns = main.snapshot.txns
    if (!txns.get(appId).contains(lastBatchId)) {
      txnErrors += 1
      notes += s"main txn ${txns.get(appId)} != last batch $lastBatchId"
    }
    dlqPath.foreach { p =>
      val t = DeltaTable.forPath(spark, p).snapshot.txns.get(appId + "-dlq")
      if (!t.contains(lastBatchId)) {
        txnErrors += 1
        notes += s"dlq txn $t != last batch $lastBatchId"
      }
    }

    val dateMismatch = (dateCounts.keySet ++ exp.goodPerDate.keySet).toSeq.map { d =>
      math.abs(dateCounts.getOrElse(d, 0L) - exp.goodPerDate.getOrElse(d, 0L))
    }.sum

    Verdict(exp.offered, lost = math.max(lostGood, 0L) + lostBad,
      duplicated = duplicatedMain + duplicatedDlq,
      misrouted = badInMain + goodInDlq + foreign,
      failedBatches = failedBatches, dateMismatch = dateMismatch,
      txnErrors = txnErrors, notes = notes.toSeq)
  }
}
