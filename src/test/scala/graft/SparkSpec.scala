package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup costs ~5 s; suites must not mutate global session state). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", cores = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The Spark jobs `body` submits from this thread (and the threads Spark
    * starts on its behalf, which inherit its local properties), so jobs of
    * suites running alongside do not count. Returns once the listener bus
    * has delivered every one of them. */
  def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach { t =>
          if (t == tag) seen.add(e) else if (t == tag + "-fence") fenced = true
        }
    }
    sc.addSparkListener(listener)
    val before = sc.getLocalProperty(key)
    try {
      sc.setLocalProperty(key, tag)
      body
      // events of one listener queue arrive in order: once a later job's
      // start is seen, every start before it has been delivered
      sc.setLocalProperty(key, tag + "-fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!fenced && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(fenced, "listener bus did not deliver the fence job")
    } finally {
      sc.setLocalProperty(key, before)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }
}
