package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The spill contract: when an operator's buffer outgrows its budget it
  * degrades to disk — same answer, no OOM — rather than requiring
  * partition sizes tuned in advance. The session-level window-buffer
  * thresholds force qx05's running-sum windows through their spill path
  * in the shared test session (execution memory itself is a static
  * conf); BASELINE.md rounds 8-9 hold the same contract measured under
  * starved execution memory at 30× and 1000×. */
class SpillSpec extends SparkSpec {

  private val forced = Map(
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
    "spark.sql.windowExec.buffer.spill.threshold" -> "1")

  /** Disk bytes spilled by the tasks `body` ran, and its result. */
  private def diskSpilledBy[A](body: => A): (Long, A) = {
    val disk = new AtomicLong
    val out = withListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => disk.addAndGet(m.diskBytesSpilled))
    })(body)
    disk.get() -> out
  }

  test("a window gate forced to spill writes to disk and returns identical rows") {
    val qx05 = Registry.byName("qx05_sequence_packing")
    def rows() = qx05.run(spark, sf).collect().map(_.toString).sorted.toSeq
    val plain = rows()
    val prev = forced.keys.map(k => k -> spark.conf.getOption(k)).toMap
    forced.foreach { case (k, v) => spark.conf.set(k, v) }
    val (spilled, degraded) =
      try diskSpilledBy(rows())
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(spilled > 0, "the forced run never spilled, so the contract is unexercised")
    assert(plain.nonEmpty)
    assert(degraded === plain)
  }
}
