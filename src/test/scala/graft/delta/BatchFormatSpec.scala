package graft.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** `spark.read/write.format("graft-delta")` — the V1 BATCH DataSource
  * (delta-spark's format("delta") shape): SaveMode contracts, reader
  * time travel via versionAsOf/timestampAsOf, filter + projection
  * pushdown through the stats-pruning scan. */
class BatchFormatSpec extends SparkSpec {
  import spark.implicits._

  private def df = (0L until 100L).map(i => (i, s"v$i", i % 4)).toDF("id", "v", "p")

  test("write modes follow their SaveMode contracts; reads round-trip") {
    val dir = tmpDir("fmt-modes")
    df.write.format("graft-delta").mode(SaveMode.Append)
      .option("partitionBy", "p").save(dir)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot.metadata.get.partitionColumns === Seq("p"))
    val back = spark.read.format("graft-delta").load(dir)
    assert(back.count() === 100L)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    // append composes
    df.withColumn("id", col("id") + 100L).write
      .format("graft-delta").mode(SaveMode.Append).save(dir)
    assert(spark.read.format("graft-delta").load(dir).count() === 200L)
    // ErrorIfExists refuses an existing table; Ignore no-ops
    intercept[IllegalArgumentException](
      df.write.format("graft-delta").mode(SaveMode.ErrorIfExists).save(dir))
    df.write.format("graft-delta").mode(SaveMode.Ignore).save(dir)
    assert(spark.read.format("graft-delta").load(dir).count() === 200L)
    // Overwrite replaces content
    df.limit(7).write.format("graft-delta").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft-delta").load(dir).count() === 7L)
  }

  test("versionAsOf / timestampAsOf time-travel the batch reader") {
    val dir = tmpDir("fmt-tt")
    val t = DeltaTable.forPath(spark, dir).create(df.schema)
    t.append(df.filter(col("id") < 50L))     // v1
    t.append(df.filter(col("id") >= 50L))    // v2
    assert(spark.read.format("graft-delta")
      .option("versionAsOf", "1").load(dir).count() === 50L)
    assert(spark.read.format("graft-delta").load(dir).count() === 100L)
    intercept[IllegalArgumentException](
      spark.read.format("graft-delta").option("versionAsOf", "1")
        .option("timestampAsOf", "123").load(dir))
  }

  test("filters prune files through the scan; projection narrows; results exact") {
    val dir = tmpDir("fmt-prune")
    val t = DeltaTable.forPath(spark, dir).create(df.schema)
    // three disjoint id ranges → three stats'd files
    (0 until 3).foreach(g => t.append(
      df.filter(col("id") >= g * 34L && col("id") < (g + 1) * 34L).coalesce(1)))
    // burn the middle file from DISK: a read that prunes on id<30 must
    // succeed anyway (never opens it) — the pushdown proof delta-spark
    // specs use
    val victim = t.scanFiles(Seq(DataSkipping.ColPred("id", "=", 40L))).head.path
    new org.apache.hadoop.fs.Path(dir, victim)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(dir, victim), false)
    val r = spark.read.format("graft-delta").load(dir)
    assert(r.filter(col("id") < 30L).count() === 30L)
    assert(r.filter(col("id").isin(1L, 2L, 70L)).select("v")
      .collect().map(_.getString(0)).sorted.toSeq === Seq("v1", "v2", "v70"))
    // the unpruned full read fails on the missing bytes — proving the
    // filtered reads above really skipped that file. Reads plan from the
    // log and stat nothing, so the failure comes from the task that opens it
    val e = intercept[org.apache.spark.SparkException](r.count())
    assert(e.getMessage.contains(new org.apache.hadoop.fs.Path(victim).getName), e.getMessage)
  }
}
