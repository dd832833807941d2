package graft

import java.util.concurrent.ConcurrentLinkedQueue

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
    val marker = s"$tag-end"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(tag)
      try body finally sc.setJobDescription(null)
      // events reach a listener in order: once the marker job is seen,
      // every job `body` started has been seen
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains(marker) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.contains(marker))
      seen.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }
}
