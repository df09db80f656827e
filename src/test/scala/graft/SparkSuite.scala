package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Run `body` once per [[graft.meta.FileIO]] implementation — POSIX
    * rename/fsync semantics AND the object-store emulation (conditional
    * PUT, lease locks, no atomic rename) — so protocol model checks face
    * the same random interleavings under both. The tag names the failing
    * impl in assertion messages. */
  protected def underEachFileIO(body: String => Unit): Unit =
    Seq("localfs" -> graft.meta.LocalFileIO,
      "objectstore" -> graft.meta.ObjectStoreFileIO).foreach {
      case (tag, impl) =>
        val prev = graft.meta.FileIO.impl
        graft.meta.FileIO.impl = impl
        try body(tag) finally graft.meta.FileIO.impl = prev
    }

  /** Runs `body` and counts the Spark jobs it started. Listener events
    * arrive asynchronously but in order, so a marked sentinel job run
    * after `body` bounds the count: once its start event is seen, every
    * job `body` started has been counted. */
  protected def countJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = s"count-jobs-sentinel-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          sentinelSeen.countDown()
        else if (sentinelSeen.getCount > 0) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job start never delivered")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
