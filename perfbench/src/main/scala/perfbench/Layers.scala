package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer figures read from Spark's listeners. The names and units
  * are declared in BENCHMARK.json; run.py prints every declared one,
  * with 0 for a layer the workload bypasses. */
object Layers {
  /** Engine and state-store figures from one query's progress reports
    * (batches that read no rows are left out of the per-batch medians). */
  def fromProgress(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def p50(k: String) = Stats.p50OrZero(data.map(d(_, k)))
    val state = data.flatMap(_.stateOperators.headOption)
    val wall = if (ps.isEmpty) 0.0 else {
      val ts = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
      (ts.max + ps.maxBy(_.timestamp).batchDuration - ts.min).toDouble
    }
    Map(
      "sources.latest_offset_ms_p50" -> p50("latestOffset"),
      "stream.batches" -> data.size.toDouble,
      "stream.rows_per_batch_p50" -> Stats.p50OrZero(data.map(_.numInputRows.toDouble)),
      "stream.trigger_ms_p50" -> p50("triggerExecution"),
      "stream.trigger_ms_p99" ->
        (if (data.isEmpty) 0.0 else Stats.pct(data.map(d(_, "triggerExecution")), 99)),
      "stream.query_planning_ms_p50" -> p50("queryPlanning"),
      "stream.add_batch_ms_p50" -> p50("addBatch"),
      "stream.wal_commit_ms_p50" -> p50("walCommit"),
      "stream.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "stream.busy_share" -> (if (wall <= 0) 0.0 else ps.map(_.batchDuration).sum / wall),
      "state.rows_total" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.memory_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_ms_p50" -> Stats.p50OrZero(state.map(_.commitTimeMs.toDouble)),
      "state.rows_dropped_by_watermark" -> droppedByWatermark(ps).toDouble)
  }

  def droppedByWatermark(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  /** Spark task counters of the jobs whose description `layer` accepts.
    * `units` is the number of batches or drops those jobs served. */
  def fromSpark(c: SparkCounters, units: Double, layer: String => Boolean): Map[String, Double] = {
    val t = c.total(layer)
    Map(
      "spark.jobs" -> t.jobs.toDouble,
      "spark.jobs_per_batch" -> (if (units > 0) t.jobs / units else 0.0),
      "spark.tasks" -> t.tasks.toDouble,
      "spark.task_cpu_s" -> t.cpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble,
      "spark.task_skew" -> c.taskSkew(layer))
  }
}
