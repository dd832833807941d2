package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans taken here line up with Spark's epoch-millisecond event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval: name, kind (workload, gate, scan, ysb, batch, job,
  * stage, sink), start/end in epoch ms and the id of the span that caused
  * it. Spans stay in memory until the run writes its artifact. */
final case class Span(id: String, parent: String, kind: String, name: String,
    start: Double, end: Double)

final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val next = new AtomicInteger(0)
  def newId(kind: String): String = s"$kind-${next.incrementAndGet()}"
  def add(s: Span): Unit = buf.add(s): Unit
  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.start)

  /** Run `body` inside a span; Spark jobs it submits from this thread are
    * parented to it through the `perfbench.span` local property. */
  def around[T](spark: SparkSession, parent: String, kind: String,
      name: String)(body: => T): T = {
    val id = newId(kind)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Spans.Key)
    sc.setLocalProperty(Spans.Key, id)
    val t0 = Clock.nowMs
    try body
    finally {
      add(Span(id, parent, kind, name, t0, Clock.nowMs))
      sc.setLocalProperty(Spans.Key, prev)
    }
  }

  /** Self time per kind: a span's duration minus the part of it that its
    * children cover. */
  def selfTimeByKind: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        math.max(0.0, (s.end - s.start) - covered)
      }.sum
    }
  }
}

object Spans { val Key = "perfbench.span" }

/** Sums Spark task metrics over everything that ends while it is attached.
  * With `spans` set it also records one span per job and per stage. The
  * untraced runs attach one with `spans = None` only to count rows read. */
final class StageCollector(spans: Option[Spans]) extends SparkListener {
  val runMs, cpuNs, gcMs, schedMs, tasks = new AtomicLong
  val shuffleRead, shuffleWrite, spill, outBytes, outRecords = new AtomicLong
  val inputRecords = new AtomicLong
  val jobsStarted, jobsEnded = new AtomicLong
  private val taskRun = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted.incrementAndGet()
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Spans.Key)))
      .orElse(props.flatMap(p => for {
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield Streams.batchSpanId(q, b.toLong)))
      .getOrElse("")
    jobStart(e.jobId) = (e.time, parent)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent) =>
      jobIntervals += ((t0.toDouble, e.time.toDouble))
      spans.foreach(_.add(Span(s"job-${e.jobId}", parent, "job",
        s"job ${e.jobId}", t0.toDouble, e.time.toDouble)))
    }
    jobsEnded.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (sp <- spans; t0 <- i.submissionTime; t1 <- i.completionTime) {
      val job = synchronized(stageJob.get(i.stageId))
      sp.add(Span(s"stage-${i.stageId}.${i.attemptNumber()}",
        job.map(j => s"job-$j").getOrElse(""), "stage", i.name,
        t0.toDouble, t1.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    inputRecords.addAndGet(m.inputMetrics.recordsRead)
    if (spans.isEmpty) return
    val info = e.taskInfo
    tasks.incrementAndGet()
    runMs.addAndGet(m.executorRunTime)
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    val gettingResult =
      if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
    schedMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
    shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    outBytes.addAndGet(m.outputMetrics.bytesWritten)
    outRecords.addAndGet(m.outputMetrics.recordsWritten)
    synchronized {
      taskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Block until every job this listener saw start has been delivered as
    * ended (the listener bus is asynchronous). */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get < jobsStarted.get && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    Thread.sleep(50)
  }

  /** Max over median task run time of the stage with the most run time. */
  def taskSkew: Double = synchronized {
    val heavy = taskRun.values.filter(_.size >= 2).maxByOption(_.sum)
    heavy.map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ts.max / med
    }.getOrElse(1.0)
  }

  /** Wall time inside [t0, t1] not covered by any job. */
  def residualMs(t0: Double, t1: Double): Double = synchronized {
    (t1 - t0) - Stats.unionLength(jobIntervals.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) })
  }

  def jobCount: Long = synchronized(jobIntervals.size.toLong)

  def metrics(t0: Double, t1: Double): Map[String, Double] = Map(
    "stage.run_ms" -> runMs.get.toDouble,
    "stage.cpu_ms" -> cpuNs.get / 1e6,
    "stage.gc_ms" -> gcMs.get.toDouble,
    "stage.sched_delay_ms" -> schedMs.get.toDouble,
    "stage.tasks" -> tasks.get.toDouble,
    "stage.task_skew" -> taskSkew,
    "stage.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "stage.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "stage.spill_bytes" -> spill.get.toDouble,
    "job.count" -> jobCount.toDouble,
    "driver.residual_s" -> residualMs(t0, t1) / 1000.0)
}

/** Keeps every progress event of every query. `recentProgress` keeps only
  * the last 100, so a long run read through it silently drops batches. */
final class ProgressRecorder extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress): Unit
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)

  /** Wait until the listener has been handed batch `batchId` of query `id`. */
  def awaitBatch(id: java.util.UUID, batchId: Long, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!of(id).exists(_.batchId >= batchId) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }
}

object Progress {
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile and how many samples lie beyond it. */
  def percentile(xs: Seq[Double], p: Double): (Double, Int) = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p * s.size).toInt)
    (s(rank - 1), s.size - rank)
  }

  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    for ((a, b) <- iv.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Live heap after a full collection, sampled only outside timed regions;
  * the run reports the largest sample. */
final class HeapPeak {
  private var peakMb = 0.0
  def sample(): Double = {
    // a collection hands broadcast and shuffle blocks to Spark's cleaner
    // thread, which releases them a little later for the next collection to
    // free; the smallest of three readings is the live heap
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val mb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    peakMb = math.max(peakMb, mb)
    mb
  }
  def peak: Double = peakMb
}

/** Minimal JSON writer for the result and trace artifacts. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case sp: Span => apply(Map("id" -> sp.id, "parent" -> sp.parent,
      "kind" -> sp.kind, "name" -> sp.name, "start_ms" -> sp.start, "end_ms" -> sp.end))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}
