package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `trace` groups the spans of one batch
  * or drop; `parent` is the enclosing span on the same thread
  * (0 at the root). */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startNs: Long, endNs: Long)

/** Span recorder wrapped around the benchmark's calls into the library.
  * Spans stay in memory until the run ends. While a span is open, the
  * calling thread's Spark job description is the span name, so the
  * SparkListener can charge each job to the innermost span that ran it.
  * Disabled, `span` is a plain call. */
final class Tracer(@volatile var enabled: Boolean, sc: => SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, trace: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val prevDesc = sc.getLocalProperty(Trace.JobDescription)
      stack.set(id :: outer)
      sc.setJobDescription(name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), trace, name,
          t0, System.nanoTime()))
        stack.set(outer)
        sc.setJobDescription(prevDesc)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: total self time in seconds — each span's duration
    * minus the part of it that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(byParent.getOrElse(s.id, Nil)
          .map(c => (c.startNs max s.startNs, c.endNs min s.endNs)))
        (s.endNs - s.startNs - covered).toDouble / 1e9
      }.sum
    }
  }

  /** Durations in seconds of every span with this name. */
  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9)

  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  /** Spans as JSON lines (name, trace id, start/end ns, parent). */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task metrics from Spark's public listener bus, summed per job
  * description: a job counts toward the span that started it. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    def +=(a: Acc): Unit = {
      jobs += a.jobs; tasks += a.tasks; cpuNs += a.cpuNs; gcMs += a.gcMs
      shuffleWrite += a.shuffleWrite; shuffleRead += a.shuffleRead; spill += a.spill
    }
  }
  private val byLayer = mutable.Map.empty[String, Acc]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def acc(layer: String): Acc = byLayer.getOrElseUpdate(layer, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.JobDescription)))
      .getOrElse("")
    acc(layer).jobs += 1
    e.stageIds.foreach(s => stageLayer(s) = layer)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLayer.getOrElse(e.stageId, ""))
    a.tasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Forgets everything counted so far (warm-up work). */
  def reset(): Unit = synchronized {
    byLayer.clear(); stageLayer.clear(); stageTaskMs.clear()
  }

  /** Sum over the job descriptions `layer` accepts. */
  def total(layer: String => Boolean): Acc = synchronized {
    val t = new Acc
    byLayer.foreach { case (l, a) => if (layer(l)) t += a }
    t
  }

  /** Max ÷ median task time in the accepted stage with the most task time. */
  def taskSkew(layer: String => Boolean): Double = synchronized {
    val stages = stageTaskMs.filter { case (s, _) => layer(stageLayer.getOrElse(s, "")) }
    if (stages.isEmpty) 0.0
    else {
      val longest = stages.values.maxBy(_.sum)
      longest.max / Stats.median(longest.map(_.toDouble).toSeq).max(1.0)
    }
  }
}

/** Every micro-batch progress report of every query, from the public
  * StreamingQueryListener. */
final class ProgressLog extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val started = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.put(e.runId, java.time.Instant.parse(e.timestamp).toEpochMilli)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  /** Forgets every report and start so far (warm-up queries). */
  def reset(): Unit = { progress.clear(); started.clear() }

  def forRun(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    all.filter(_.runId == runId).sortBy(_.batchId)

  /** Seconds from each query start to its first progress report. */
  def startupSeconds: Seq[Double] =
    all.groupBy(_.runId).toSeq.flatMap { case (run, ps) =>
      Option(started.get(run)).map { t0 =>
        (ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).min +
          ps.minBy(_.batchId).batchDuration - t0) / 1000.0
      }
    }

  /** Blocks until `runId` has reported a progress for `batchId`. */
  def awaitBatch(runId: java.util.UUID, batchId: Long, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!forRun(runId).exists(_.batchId >= batchId) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }
}

object Trace {
  /** The local property Spark shows as a job's description. */
  val JobDescription = "spark.job.description"

  def install(spark: SparkSession): (SparkCounters, ProgressLog) = {
    val c = new SparkCounters
    val p = new ProgressLog
    spark.sparkContext.addSparkListener(c)
    spark.streams.addListener(p)
    (c, p)
  }
}
