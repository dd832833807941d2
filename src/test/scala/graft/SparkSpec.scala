package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM per `sbt test` fork). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local("graft-test", "4")
  val sf = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf

  /** Jobs started by `body` on this thread, seen by a listener. */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"jobs-started-by-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    withListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        description(e).foreach(seen.add)
    }) {
      sc.setJobDescription(tag)
      try body finally sc.setJobDescription(null)
    }
    seen.asScala.count(_ == tag)
  }

  /** Runs `body` with `listener` registered, and returns once `listener`
    * has seen every event of the jobs `body` ran. */
  def withListener[A](listener: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    val marker = s"listener-marker-${System.nanoTime()}"
    val markerSeen = new CountDownLatch(1)
    val markerListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (description(e).contains(marker)) markerSeen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(markerListener)
    try {
      val out = body
      // both listeners sit on the same queue and get its events in order:
      // once the marker job is seen, `listener` has seen every earlier one
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(10, TimeUnit.SECONDS))
      out
    } finally {
      sc.removeSparkListener(markerListener)
      sc.removeSparkListener(listener)
    }
  }

  private def description(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
}
