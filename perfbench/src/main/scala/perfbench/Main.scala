package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one workload run hands back: its end-to-end metrics by name,
  * how many operations it attempted and how many failed or came out
  * wrong, and whether every output check passed. The units are
  * declared in BENCHMARK.json, where run.py takes them from. */
final class Result {
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Per-layer figures of a traced run. */
  val layers: mutable.Map[String, Double] = mutable.Map.empty

  def put(name: String, value: Double): Unit = metrics(name) = value
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  def correct: Boolean = problems.isEmpty && failed == 0

  def json: String = {
    def obj(m: Iterable[(String, Double)]) = m.map { case (k, v) =>
      s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${obj(metrics)}, "layers": ${obj(layers.toSeq.sortBy(_._1))}}"""
  }
}

/** A workload: its timed run, and its throughput on one core. */
trait Workload {
  def run(ctx: Ctx, sessionS: Double): Result
  def singleCore(ctx: Ctx): Double
}

/** Everything a workload needs: the session, its own scratch directory,
  * the seed and run length, and the tracing hooks. */
final class Ctx(val spark: SparkSession, val dir: Path, val seed: Long,
                val seconds: Double, val tracer: Tracer,
                val counters: SparkCounters, val progress: ProgressLog) {
  def traced: Boolean = tracer.enabled
  def path(name: String): String = dir.resolve(name).toString
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work"))
    val out = Paths.get(opts("out"))
    Files.createDirectories(work)

    if (workload == "selftest") {
      Files.writeString(out, SelfTest.run())
      return
    }

    val w: Workload = workload match {
      case "stream_events" | "ladder" => StreamEvents
      case "crawl_ingest"   => CrawlIngest
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def context(cores: Int, traced: Boolean, sub: String): Ctx = {
      val spark = graft.GraftSession.local(cores)
      val (counters, progress) = Trace.install(spark)
      Files.createDirectories(work.resolve(sub))
      new Ctx(spark, work.resolve(sub), seed, seconds, new Tracer(traced, spark.sparkContext),
        counters, progress)
    }
    val cores = Runtime.getRuntime.availableProcessors
    val ctx = context(cores, trace, "run")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    ctx.log(f"session ready after $sessionS%.2f s on local[$cores]")
    val result =
      try if (workload == "ladder") StreamEvents.ladder(ctx) else w.run(ctx, sessionS)
      finally ctx.spark.stop()
    result.problems.foreach(p => ctx.log(s"CHECK FAILED: $p"))

    if (trace && result.correct) {
      opts.get("spans").foreach { f =>
        ctx.tracer.write(Paths.get(f))
        val self = ctx.tracer.selfSeconds.toSeq.sortBy(_._1)
          .map { case (n, v) => s""""$n": $v""" }.mkString("{", ", ", "}")
        Files.writeString(Paths.get(f.stripSuffix("-spans.jsonl") + "-selftime.json"), self)
      }
      // the same job on one core, untraced, in a fresh session
      val one = context(1, traced = false, "single-core")
      result.layers("single_core.throughput_per_s") =
        try w.singleCore(one) finally one.spark.stop()
    }
    Files.writeString(out, result.json)
  }
}
