package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.GraftLog
import graft.streaming.{GraftLogConnector, Pipeline, SchemaRegistry, StreamRouter, TumblingWindow}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Open-loop event stream: graftlog topic → SchemaRegistry.parse →
  * watermarked tumbling-window aggregate (update mode) → StreamRouter
  * fan-out by event type → idempotent graftlog sink legs, on the
  * default micro-batch trigger.
  *
  * Set-up preloads the topic with a retained history, which the
  * query's first batch reads past. The timed phase runs the generator
  * at a fixed high rate; its results give the latency metrics. Then,
  * `bursts` times over, the query stops, a burst lands in the topic and
  * the query restarts: the batch that drains each burst gives a
  * throughput, and the median is reported. */
object StreamEvents extends Workload {
  import Gen.StreamTraffic._

  val partitions = 4
  /** Retained history preloaded before the timed phase. Every trigger
    * line-counts the whole log and every reader task re-reads its
    * partition up to its start offset, so per-batch source cost grows
    * with this size. A run appends about 270k records of its own, so
    * they end up about a quarter of the log. */
  val historyRecords = 800000
  val lowRate = 500.0
  /** About 40 % of the sustained rate the ladder measures at the seed
    * commit (see the README). Near ¾ of it the result latencies spread
    * 0.36–0.41 over seeds, past the benchmark's bound. */
  val highRate = 9000.0
  val primerRecords = 20000
  val burstRecords = 30000
  /** First sequence numbers of the primer and of burst i. A far-late
    * event's window lies `seq` windows back, so these stay small. */
  val primerSeq = 50000000L
  def burstSeq(i: Int): Long = 10000000L * (i + 1)
  val bursts = 3
  /** Generator lateness beyond which a run is invalid. */
  val lateBoundMs = 500L
  val tickMs = 10L

  /** The rate ladder: rungs of `rungSeconds` from `from`, 10 % apart
    * once the coarse steps have bracketed the limit. A rung is
    * sustained if its result p99 stays within `latencyLimitMs` and its
    * backlog does not grow. */
  object Ladder {
    val from = 2000.0
    val coarse = 1.5
    val fine = 1.1
    val rungSeconds = 15.0
    val latencyLimitMs = 5000.0
  }

  final case class Phase(name: String, ratePerS: Double, seconds: Double)

  /** The generator: one thread appending due events with
    * GraftLog.appendBatch on a fixed schedule that does not slow when
    * the job slows. It appends what is due at most every `tickMs`, as
    * a producer lingering to batch, so its own CPU stays small at high
    * rates. Sequence numbers start at `firstSeq`. */
  final class Generator(ctx: Ctx, dir: String, events: Gen.EventStream,
                        phases: Seq[Phase], startMs: Long, firstSeq: Long = 0L)
      extends Thread("perfbench-generator") {
    val appended = mutable.ArrayBuffer.empty[Gen.Ev]
    val phaseBounds: Seq[(Phase, Long, Long)] = {
      var t = startMs
      phases.map { p => val b = (p, t, t + (p.seconds * 1000).toLong); t = b._3; b }
    }
    @volatile var lateMaxMs = 0L
    @volatile var failure: Throwable = null
    @volatile var appendNs = 0L

    private def append(batch: Seq[Gen.Ev], now: Long): Unit = {
      val t0 = System.nanoTime()
      ctx.tracer.span("sources.append", "generator")(appendEvents(dir, batch, now))
      appendNs += System.nanoTime() - t0
      lateMaxMs = lateMaxMs max (now - batch.head.dueMs)
      appended ++= batch
    }

    override def run(): Unit = try {
      var seq = firstSeq
      phaseBounds.foreach { case (p, from, to) =>
        val n = ((to - from) * p.ratePerS / 1000.0).toLong
        def due(i: Long) = from + (i * 1000.0 / p.ratePerS).toLong
        var i = 0L
        while (i < n) {
          val now = System.currentTimeMillis()
          val batch = mutable.ArrayBuffer.empty[Gen.Ev]
          while (i < n && due(i) <= now) { batch += events.event(seq, due(i)); seq += 1; i += 1 }
          if (batch.nonEmpty) append(batch.toSeq, now)
          if (i < n) {
            val wait = (due(i) max (now + tickMs)) - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
          }
        }
        val wait = to - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
      }
    } catch { case e: Throwable => failure = e }
  }

  private def appendEvents(dir: String, es: Seq[Gen.Ev], nowMs: Long): Unit =
    es.groupBy(e => GraftLog.partitionFor(e.key, partitions)).foreach { case (p, part) =>
      GraftLog.appendBatch(dir, p, part.iterator.map(e => (e.key, e.eventType, Gen.eventJson(e))), nowMs)
    }

  private val payload = StructType(Seq(
    StructField("event_ts", LongType), StructField("created_ms", LongType),
    StructField("amount", IntegerType), StructField("seq", LongType)))

  /** Starts the job on the default micro-batch trigger. (Every library
    * `.start()` is Trigger.AvailableNow, which drains and exits, so the
    * continuously running query is built here from the public parts.)
    * The job handles the registered types only; the registry passes
    * other types through unparsed, and the job skips them. */
  def start(ctx: Ctx, conn: GraftLogConnector, checkpoint: String): StreamingQuery = {
    val registry = new SchemaRegistry
    types.foreach { case (t, _) => registry.register(t, payload) }
    val parsed = registry.parse(conn.readStream(ctx.spark, "events").withColumnRenamed("value", "payload"))
      .filter(!col("_corrupt") && col("parsed").isNotNull)
      .select(col("key"), col("event_type"), from_json(col("parsed"), payload).as("e"))
    val agg = Pipeline(parsed)
      .withColumnMapped("ets", timestamp_millis(col("e.event_ts")))
      .watermarked("ets", s"$watermarkMs milliseconds")
      .windowAgg(TumblingWindow(windowMs), col("ets"), Seq(col("key"), col("event_type")),
        Seq(count(lit(1)).as("n"), sum(col("e.amount")).as("amount"),
          max(col("e.created_ms")).as("max_created")))
      .toDF
    val router = new StreamRouter(types.map { case (t, _) => (col("event_type") === t, s"out_$t") }, None)
    agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        ctx.tracer.span("sink.fanout", s"batch-$id") {
          router.fanOutBatch(b, (leg, topic) =>
            ctx.tracer.span("sink.write", s"batch-$id") {
              conn.writeBatchIdempotent(leg, topic, id, "perfbench")
            })
        }
      }
      .start()
  }

  /** One output record: a (window, key, type) update and its append time. */
  final case class Out(windowStart: Long, key: String, eventType: String, n: Long,
                       amount: Long, maxCreated: Long, appendMs: Long)

  /** Every output record, read straight from the topics' partition files
    * in log order. */
  def readOutputs(root: String): Seq[Out] = {
    val m = new ObjectMapper()
    for {
      (t, _) <- types
      p <- 0 until partitions
      f = Paths.get(root, s"out_$t", s"p=$p", "log.jsonl") if Files.exists(f)
      line <- Files.readAllLines(f).asScala
    } yield {
      val env = m.readTree(line)
      val v = m.readTree(env.get("value").asText())
      Out(java.time.Instant.parse(v.get("window").get("start").asText()).toEpochMilli,
        v.get("key").asText(), v.get("event_type").asText(), v.get("n").asLong(),
        v.get("amount").asLong(), v.get("max_created").asLong(), env.get("ts").asLong())
    }
  }

  /** Each (window, key, type)'s last update must equal the reference
    * aggregate of the events it admitted, every kept event must land in
    * exactly one of them, and the state operator must have dropped
    * exactly the far-late events. Returns the share of reference
    * aggregates reproduced exactly. */
  def check(events: Seq[Gen.Ev], outs: Seq[Out], dropped: Long, r: Result): Double = {
    val kept = events.filterNot(_.farLate)
    val ref = kept.groupBy(e => (Math.floorDiv(e.eventMs, windowMs) * windowMs, e.key, e.eventType))
      .map { case (k, es) => k -> (es.size.toLong, es.map(_.amount.toLong).sum, es.map(_.dueMs).max) }
    val last = mutable.LinkedHashMap.empty[(Long, String, String), (Long, Long, Long)]
    outs.foreach(o => last((o.windowStart, o.key, o.eventType)) = (o.n, o.amount, o.maxCreated))
    val wrong = ref.count { case (k, v) => !last.get(k).contains(v) } + (last.keySet -- ref.keySet).size
    val farLate = events.count(_.farLate)
    r.attempted = events.size
    r.failed = wrong
    val examples = (ref.keySet ++ last.keySet).filter(k => ref.get(k) != last.get(k)).take(3)
      .map(k => s"$k: expected ${ref.get(k)}, emitted ${last.get(k)}").mkString("; ")
    r.check(wrong == 0, s"$wrong of ${ref.size} window aggregates differ from the reference ($examples)")
    r.check(last.values.map(_._1).sum == kept.size,
      s"final aggregates count ${last.values.map(_._1).sum} events, ${kept.size} were admitted")
    r.check(dropped == farLate, s"state dropped $dropped rows by watermark, $farLate were far-late")
    1.0 - wrong.toDouble / ref.size.max(1)
  }

  /** With the query stopped, lands `n` events due now, restarts the
    * query on its checkpoint and waits until it has read them. Returns
    * the events and the drain rate: events read per second of batch
    * time, over the batches of the restarted run. */
  def drainBurst(ctx: Ctx, conn: GraftLogConnector, dir: String, events: Gen.EventStream,
                 n: Int, firstSeq: Long): (Seq[Gen.Ev], Double) = {
    val now = System.currentTimeMillis()
    val burst = (0 until n).map(i => events.event(firstSeq + i, now))
    appendEvents(dir, burst, now)
    val q = start(ctx, conn, ctx.path("checkpoint"))
    awaitRead(ctx, q, n)
    q.stop()
    val drain = ctx.progress.forRun(q.runId).filter(_.numInputRows > 0)
    drain.foreach(p => ctx.log(s"drain batch: ${p.numInputRows} rows, ${p.durationMs}"))
    (burst, drain.map(_.numInputRows).sum * 1000.0 / drain.map(_.batchDuration).sum.max(1))
  }

  /** Waits until the query has read `total` records. */
  private def awaitRead(ctx: Ctx, q: StreamingQuery, total: Long): Unit = {
    val deadline = System.currentTimeMillis() + 90000
    while (ctx.progress.forRun(q.runId).map(_.numInputRows).sum < total &&
      System.currentTimeMillis() < deadline && q.isActive) Thread.sleep(20)
  }

  /** Set-up shared by the run and the ladder. The history lands, one
    * writer thread per partition, followed by a primer of in-time
    * events. The query starts, and its first batch reads past the
    * history and aggregates the primer: that warms the job's path and
    * sets the watermark. Spark drops late rows by the watermark of the
    * batch before, so a second, small primer gets a batch of its own,
    * and far-late events are dropped from the batch after it on.
    * Returns the primers' events with the query. */
  private def setUp(ctx: Ctx, conn: GraftLogConnector, dir: String, history: Int,
                    r: Result): (Gen.EventStream, StreamingQuery, Seq[Gen.Ev]) = {
    val t0 = System.nanoTime()
    val nowMs = System.currentTimeMillis()
    val events = new Gen.EventStream(ctx.seed, nowMs - 600000L)
    val writers = (0 until partitions).map { p =>
      new Thread(() => events.history(history, nowMs, 20000L)
        .filter(e => GraftLog.partitionFor(e.key, partitions) == p)
        .grouped(50000).foreach(appendEvents(dir, _, nowMs)))
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    val primer = (0 until primerRecords).map(i => events.event(primerSeq + i, nowMs)).filterNot(_.farLate)
    appendEvents(dir, primer, nowMs)
    val t1 = System.nanoTime()
    val q = start(ctx, conn, ctx.path("checkpoint"))
    ctx.progress.awaitBatch(q.runId, 0, 120000)
    val first = ctx.progress.forRun(q.runId).headOption
    val read = first.map(_.numInputRows).getOrElse(0L)
    r.check(read == history + primer.size,
      s"the first batch read $read records, the history and primer hold ${history + primer.size}")
    ctx.log(f"set-up: history ${(t1 - t0) / 1e9}%.1f s, first batch ${(System.nanoTime() - t1) / 1e9}%.1f s " +
      first.map(_.durationMs.toString).getOrElse(""))
    val now = System.currentTimeMillis()
    val primer2 = (0 until primerRecords / 10).map(i => events.event(primerSeq + primerRecords + i, now))
      .filterNot(_.farLate)
    appendEvents(dir, primer2, now)
    awaitRead(ctx, q, history + primer.size + primer2.size)
    (events, q, primer ++ primer2)
  }

  /** Result latencies (append time − max(created_ms)) of the results
    * whose newest event was due in [from, to). */
  private def latencies(outs: Seq[Out], from: Long, to: Long): Seq[Double] =
    outs.filter(o => o.maxCreated >= from && o.maxCreated < to)
      .map(o => (o.appendMs - o.maxCreated).toDouble)

  /** Backlog at the end of each progress report of a query run: the
    * handled events due by then minus the records read by then, less
    * the history (PSPF's `stream_lag`). */
  private def backlog(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                      sent: Seq[Gen.Ev], history: Long): Seq[(Long, Double)] = {
    val sentAt = sent.map(_.dueMs).sorted.toArray
    var (read, due) = (-history, 0)
    ps.sortBy(_.batchId).map { p =>
      read += p.numInputRows
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
      while (due < sentAt.length && sentAt(due) <= at) due += 1
      (at, (due - read).max(0L).toDouble)
    }
  }

  def run(ctx: Ctx, sessionS: Double): Result = {
    val r = new Result
    val root = ctx.path("topics")
    val dir = s"$root/events"
    val conn = new GraftLogConnector(root, partitions)
    val setupStart = System.nanoTime()
    val (events, q, primer) = setUp(ctx, conn, dir, historyRecords, r)
    val setupS = sessionS + (System.nanoTime() - setupStart) / 1e9
    val timedFromMs = System.currentTimeMillis()
    ctx.counters.reset()

    // the low-rate phase feeds only per-layer figures, so untraced runs
    // spend its time on the high rate
    val phases =
      if (ctx.traced) Seq(Phase("low", lowRate, ctx.seconds * 0.3), Phase("high", highRate, ctx.seconds * 0.5))
      else Seq(Phase("high", highRate, ctx.seconds * 0.9))
    val gen = new Generator(ctx, dir, events, phases, System.currentTimeMillis() + 100)
    gen.start(); gen.join()
    if (gen.failure != null) throw gen.failure
    awaitRead(ctx, q, historyRecords + primer.size + gen.appended.size)
    q.stop()
    val progress = ctx.progress.forRun(q.runId)
    val timed = progress.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= timedFromMs)
    // every job of the timed phase is the query's own
    val sparkTimed = Layers.fromSpark(ctx.counters, timed.count(_.numInputRows > 0), _ => true)
    // traced runs drain four bursts, traced, untraced, untraced, traced,
    // over the same growing log, so a drift in log size or host speed
    // falls on both sides alike; the ratio of the two sides' mean drain
    // rates is the tracing overhead
    val traced = ctx.traced
    val burstRuns = (0 until (if (traced) 4 else bursts)).map { i =>
      ctx.tracer.enabled = traced && (i == 0 || i == 3)
      try (ctx.tracer.enabled, drainBurst(ctx, conn, dir, events, burstRecords, burstSeq(i)))
      finally ctx.tracer.enabled = traced
    }
    def rate(runs: Seq[(Boolean, (Seq[Gen.Ev], Double))]) = Stats.median(runs.map(_._2._2))
    def meanRate(runs: Seq[(Boolean, (Seq[Gen.Ev], Double))]) = runs.map(_._2._2).sum / runs.size
    val (tracedBursts, plainBursts) = burstRuns.partition(_._1)

    val outs = readOutputs(root)
    val all = ctx.progress.all.filter(_.id == q.id)
    val sent = primer ++ gen.appended ++ burstRuns.flatMap(_._2._1)
    val quality = check(sent.toSeq, outs, Layers.droppedByWatermark(all), r)
    r.check(gen.lateMaxMs <= lateBoundMs,
      s"generator ran ${gen.lateMaxMs} ms late (bound $lateBoundMs ms): run invalid")
    def phaseLatencies(phase: String) = gen.phaseBounds.find(_._1.name == phase).toSeq.flatMap {
      case (_, from, to) => latencies(outs, from, to)
    }
    val (low, high) = (phaseLatencies("low"), phaseLatencies("high"))
    ctx.log(f"high n=${high.size} p50=${Stats.median(high)}%.0f p95=${Stats.pct(high, 95)}%.0f " +
      f"p99=${Stats.pct(high, 99)}%.0f; " +
      f"drain ${burstRuns.map(_._2._2.round).mkString(" ")}/s; late ${gen.lateMaxMs} ms; ${progress.size} batches")
    r.put("setup_s", setupS)
    r.put("throughput_per_s", rate(if (traced) tracedBursts else plainBursts))
    r.put("result_p50_ms", Stats.median(high))
    // p95, the latency panel of PSPF's dashboard: at ~7 batches a run,
    // p99 is the single worst batch and spread 0.20 over seeds
    r.put("result_tail_ms", Stats.pct(high, 95))
    r.put("quality_share", quality)

    if (traced) {
      val appendUs = gen.appendNs / 1e3 / gen.appended.size.max(1)
      r.layers ++= Layers.fromProgress(timed) ++ sparkTimed ++ Map(
        "sources.append_us_per_record" -> appendUs,
        "sources.backlog_max_records" -> backlog(progress, primer ++ gen.appended, historyRecords)
          .drop(progress.size - timed.size).map(_._2).maxOption.getOrElse(0.0),
        "sources.log_records" -> (historyRecords + sent.size).toDouble,
        "stream.low_rate_result_p50_ms" -> Stats.median(low),
        "stream.low_rate_result_p99_ms" -> Stats.pct(low, 99),
        "sink.fanout_ms_p50" -> Stats.p50OrZero(ctx.tracer.durations("sink.fanout")) * 1000,
        "sink.write_ms_p50" -> Stats.p50OrZero(ctx.tracer.durations("sink.write")) * 1000,
        "sink.rows" -> outs.size.toDouble,
        "gen.late_ms_max" -> gen.lateMaxMs.toDouble,
        "trace.overhead_share" -> (meanRate(plainBursts) / meanRate(tracedBursts) - 1.0))
    }
    r
  }

  /** The rate ladder over the run's set-up: rungs rise by `coarse` until
    * one is not sustained, then from the last sustained rung by `fine`.
    * The highest sustained rung is `events_sustained_per_s`. Each rung
    * starts once the previous one is fully read. */
  def ladder(ctx: Ctx): Result = {
    val r = new Result
    val root = ctx.path("topics")
    val dir = s"$root/events"
    val conn = new GraftLogConnector(root, partitions)
    val (events, q, primer) = setUp(ctx, conn, dir, historyRecords, r)
    val sent = mutable.ArrayBuffer.empty[Gen.Ev] ++= primer
    var (rate, step, sustained) = (Ladder.from, Ladder.coarse, 0.0)
    var done = false
    while (!done) {
      val gen = new Generator(ctx, dir, events, Seq(Phase("rung", rate, Ladder.rungSeconds)),
        System.currentTimeMillis() + 100, sent.size.toLong - primer.size)
      gen.start(); gen.join()
      if (gen.failure != null) throw gen.failure
      sent ++= gen.appended
      awaitRead(ctx, q, historyRecords + sent.size)
      val (_, from, to) = gen.phaseBounds.head
      val lat = latencies(readOutputs(root), from, to)
      val ps = ctx.progress.forRun(q.runId).filter { p =>
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        at >= from && at + p.batchDuration <= to
      }
      val bl = backlog(ctx.progress.forRun(q.runId), sent.toSeq, historyRecords)
        .filter { case (at, _) => at >= from && at <= to }.map(_._2)
      val p99 = if (lat.isEmpty) Double.PositiveInfinity else Stats.pct(lat, 99)
      // growing: the rung ends with more backlog than half again its median
      val growing = bl.size >= 3 && bl.last > 1.5 * Stats.median(bl) + rate * 0.5
      val ok = p99 <= Ladder.latencyLimitMs && !growing && gen.lateMaxMs <= lateBoundMs
      ctx.log(f"rung $rate%.0f/s: p50 ${if (lat.isEmpty) 0.0 else Stats.median(lat)}%.0f ms, " +
        f"p99 $p99%.0f ms, backlog ${bl.map(_.round).mkString(" ")}, ${ps.size} batches, " +
        f"late ${gen.lateMaxMs} ms: ${if (ok) "sustained" else "not sustained"}")
      if (ok) { sustained = rate; rate *= step }
      else if (step == Ladder.coarse && sustained > 0) { step = Ladder.fine; rate = sustained * step }
      else done = true
    }
    q.stop()
    check(sent.toSeq, readOutputs(root),
      Layers.droppedByWatermark(ctx.progress.all.filter(_.id == q.id)), r)
    r.put("events_sustained_per_s", sustained)
    r
  }

  /** Drain rate of one burst over a small history, on the session given. */
  def singleCore(ctx: Ctx): Double = {
    val root = ctx.path("topics")
    val dir = s"$root/events"
    val conn = new GraftLogConnector(root, partitions)
    val (events, q, _) = setUp(ctx, conn, dir, historyRecords / 10, new Result)
    q.stop()
    drainBurst(ctx, conn, dir, events, burstRecords / 2, 0L)._2
  }
}
