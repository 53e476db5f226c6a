package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started on any thread while `body` runs. A sentinel job
    * closes the window: the listener bus delivers events in order.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          closed.countDown()
        else { started.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "end of the measured window")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(closed.await(60, TimeUnit.SECONDS))
      started.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
