package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs one block submits — the job-count pins of the
  * index streams. The block's jobs are tagged by a local property that
  * its Par threads and Spark's broadcast/stage threads inherit, and a
  * listener counts the tagged job starts; a sentinel job then flushes the
  * asynchronous listener bus (a listener receives events in order). */
object JobCount {

  def of(spark: SparkSession)(body: => Unit): Int = {
    val Tag = "graft.spec.jobpin"
    val Sentinel = "graft.spec.sentinel"
    val started = new AtomicInteger
    val flushed = new CountDownLatch(1)
    def tagged(e: SparkListenerJobStart, key: String): Boolean =
      Option(e.properties).exists(_.getProperty(key) != null)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e, Sentinel)) flushed.countDown()
        else if (tagged(e, Tag)) started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, "1")
      try body
      finally sc.setLocalProperty(Tag, null)
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Sentinel, null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus not flushed")
    } finally sc.removeSparkListener(listener)
    started.get
  }
}
