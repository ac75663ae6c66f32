package perfbench

import graft.operators.Dedup
import graft.streaming.IncrementalDedup
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed loop with one client: land crawl drop k as one parquet file,
  * run IncrementalDedup over it with the library defaults, wait for
  * the verdicts, land drop k+1. A crawl is a fixed sequence of drops
  * over a fresh band store. A run makes one crawl per `secondsPerCrawl`
  * of its `--seconds`, so its work does not depend on how fast the
  * library is. */
object CrawlIngest extends Workload {
  /** Traffic dimensions. */
  val drops = 4
  val secondsPerCrawl = 10.0
  val freshPerDrop = 1500
  /** Near-duplicates of earlier drops' docs planted per drop. */
  val plantedPerDrop = 150
  /** Boilerplate group: `boilerBase + boilerStep * k` members land in drop k. */
  val boilerBase = 50
  val boilerStep = 150
  val docWords = (120, 240)

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** One generated drop: its docs and, per planted or boilerplate doc,
    * whether the truth says the loop must flag it (Jaccard above the
    * LSH threshold against some earlier doc). */
  final case class Drop(docs: Seq[(Long, Array[String])], aboveThreshold: Map[Long, Boolean])

  /** LSH threshold of the default Config: (1/bands)^(1/rows). */
  val lshThreshold: Double = {
    val c = IncrementalDedup.Config()
    math.pow(1.0 / (c.numHashes / c.rowsPerBand), 1.0 / c.rowsPerBand)
  }

  def crawl(seed: Long): Seq[Drop] = {
    val r = new SplittableRandom(seed)
    val boiler = Gen.doc(r, 150)
    val seen = mutable.ArrayBuffer.empty[(Long, Array[String])]
    var next = 0L
    (0 until drops).map { k =>
      val docs = mutable.ArrayBuffer.empty[(Long, Array[String])]
      val truth = mutable.Map.empty[Long, Boolean]
      def len = docWords._1 + r.nextInt(docWords._2 - docWords._1)
      (0 until freshPerDrop).foreach { _ => docs += ((next, Gen.doc(r, len))); next += 1 }
      if (seen.nonEmpty) (0 until plantedPerDrop).foreach { _ =>
        val src = seen(r.nextInt(seen.size))._2
        // edit shares from 0.02 to 0.45 put Jaccard on both sides of the threshold
        val copy = Gen.mutate(r, src, 0.02 + 0.43 * r.nextDouble())
        truth(next) = Gen.jaccard(src, copy) > lshThreshold
        docs += ((next, copy)); next += 1
      }
      (0 until boilerBase + boilerStep * k).foreach { _ =>
        val copy = Gen.mutate(r, boiler, 0.02)
        if (k > 0) truth(next) = true
        docs += ((next, copy)); next += 1
      }
      val shuffled = docs.toIndexedSeq.map(d => (r.nextLong(), d)).sortBy(_._1).map(_._2)
      seen ++= shuffled
      Drop(shuffled, truth.toMap)
    }
  }

  /** Writes a drop as exactly one parquet file into `src` (written
    * aside, then renamed in, so the source never sees a partial file). */
  def land(ctx: Ctx, drop: Drop, src: String, name: String): Unit = {
    val staging = s"$src-staging/$name"
    ctx.spark.createDataFrame(
      drop.docs.map { case (id, ws) => Row(id, ws.mkString(" ")) }.asJava, schema)
      .coalesce(1).write.parquet(staging)
    val part = Files.list(Paths.get(staging)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(src))
    Files.move(part, Paths.get(src, s"$name.parquet"))
  }

  /** One crawl's drop times (landed → verdicts committed), docs, and
    * planted-truth counts. Landing and checking are the benchmark's own
    * work and are not in the drop times. */
  final case class CrawlRun(dropSeconds: Seq[Double], docs: Long,
                            plantedAbove: Long, flaggedAbove: Long) {
    def busyS: Double = dropSeconds.sum
  }

  /** Runs one crawl in `dir`, checking every drop's verdicts into `r`. */
  def runCrawl(ctx: Ctx, crawlDrops: Seq[Drop], dir: String, r: Result,
               traced: Boolean = false): CrawlRun = {
    val spark = ctx.spark
    val (src, bands, results, ckpt) = (s"$dir/src", s"$dir/bands", s"$dir/results", s"$dir/ckpt")
    val cfg = IncrementalDedup.Config()
    val times = mutable.ArrayBuffer.empty[Double]
    var (planted, flagged) = (0L, 0L)
    crawlDrops.zipWithIndex.foreach { case (drop, k) =>
      land(ctx, drop, src, f"drop-$k%03d")
      val landed = System.nanoTime()
      val trace = s"drop-$k"
      val source = spark.readStream.schema(schema).parquet(src)
      val q =
        if (!traced) IncrementalDedup.run(source, cfg, bands, results, ckpt)
        else source.writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            // the listing and lazy read ingestBatch starts with, on its own
            ctx.tracer.span("store.seen_bands", trace)(IncrementalDedup.seenBands(spark, bands, id))
            ctx.tracer.span("store.ingest", trace) {
              IncrementalDedup.ingestBatch(b, id, cfg, bands, results)
            }
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
      q.awaitTermination()
      times += (System.nanoTime() - landed) / 1e9
      val verdicts = checkDrop(ctx, drop, k, results, r)
      drop.aboveThreshold.foreach { case (id, above) =>
        if (above) { planted += 1; if (verdicts.getOrElse(id, false)) flagged += 1 }
      }
    }
    CrawlRun(times.toSeq, crawlDrops.map(_.docs.size.toLong).sum, planted, flagged)
  }

  /** Every drop commits exactly one verdict partition holding exactly its
    * docs; fresh docs are never flagged. Returns the drop's verdicts. */
  def checkDrop(ctx: Ctx, drop: Drop, k: Int, results: String, r: Result): Map[Long, Boolean] = {
    r.attempted += 1
    val parts = Files.list(Paths.get(results)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("ingest_batch=")).toSeq
    val verdicts = ctx.spark.read.parquet(s"$results/ingest_batch=$k")
      .select("doc_id", "is_dup").collect().map(x => x.getLong(0) -> x.getBoolean(1)).toMap
    val ids = drop.docs.map(_._1).toSet
    val falseFlags = verdicts.count { case (id, dup) => dup && !drop.aboveThreshold.contains(id) }
    val ok = parts.size == k + 1 && verdicts.keySet == ids && verdicts.size == drop.docs.size &&
      falseFlags == 0
    if (!ok) {
      r.failed += 1
      r.check(ok = false, s"drop $k: ${parts.size} verdict partitions, ${verdicts.size} verdicts " +
        s"for ${ids.size} docs, $falseFlags fresh docs flagged")
    }
    verdicts
  }

  def run(ctx: Ctx, sessionS: Double): Result = {
    val r = new Result
    val setupStart = System.nanoTime()
    val drops0 = crawl(ctx.seed)
    // warm-up: two small drops on a fresh store, untimed
    runCrawl(ctx, crawl(ctx.seed + 1).take(2).map(d => d.copy(docs = d.docs.take(200))),
      ctx.path("warmup"), new Result)
    val setupS = sessionS + (System.nanoTime() - setupStart) / 1e9

    // a traced run times its untraced crawls too; the last one, on a
    // warm JVM, is the base of the tracing overhead
    val crawls = math.round(ctx.seconds / secondsPerCrawl).toInt.max(1)
    val runs = (0 until crawls).map(i => runCrawl(ctx, drops0, ctx.path(s"crawl-$i"), r))
    val dropS = runs.flatMap(_.dropSeconds).toSeq
    ctx.log(f"${runs.size} crawls; drops ${dropS.map(d => f"$d%.2f").mkString(" ")}")
    r.put("setup_s", setupS)
    r.put("throughput_per_s", runs.map(_.docs).sum / runs.map(_.busyS).sum)
    r.put("result_p50_ms", Stats.median(dropS) * 1000)
    r.put("result_tail_ms", Stats.pct(dropS, 90) * 1000)
    r.put("quality_share", runs.map(_.flaggedAbove).sum.toDouble / runs.map(_.plantedAbove).sum.max(1))

    if (ctx.traced) {
      ctx.counters.reset()
      ctx.progress.reset()
      val dir = ctx.path("crawl-traced")
      val t = runCrawl(ctx, drops0, dir, r, traced = true)
      // band rows the store holds after the last drop, counted untimed
      val seenRows = IncrementalDedup.seenBands(ctx.spark, s"$dir/bands", drops0.size)
        .map(_.count()).getOrElse(0L)
      // the last drop's turn again, each Dedup stage materialized on its own
      val last = drops0.size - 1
      val cfg = IncrementalDedup.Config()
      val persist = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      def stage(name: String)(df: => DataFrame): (DataFrame, Long) =
        ctx.tracer.span(name, "stages") { val p = df.persist(persist); (p, p.count()) }
      val lastDocs = ctx.spark.read.parquet(f"$dir/src/drop-$last%03d.parquet")
      val (sh, shRows) = stage("dedup.shingle")(Dedup.shingleSet(lastDocs, cfg.id, cfg.text, cfg.shingleN))
      val (bandsDf, bandRows) = stage("dedup.band")(
        Dedup.bandFrame(sh, cfg.id, cfg.numHashes, cfg.rowsPerBand))
      val seen = IncrementalDedup.seenBands(ctx.spark, s"$dir/bands", last).get.drop("ingest_batch")
      val (_, pairs) = stage("dedup.candidates")(
        Dedup.incrementalLshPairsFromBands(bandsDf, seen, cfg.id))
      ctx.spark.catalog.clearCache()
      val partitions = Files.list(Paths.get(s"$dir/bands")).iterator().asScala
        .count(_.getFileName.toString.startsWith("ingest_batch="))
      val spans = ctx.tracer
      r.layers ++= Layers.fromProgress(ctx.progress.all) ++
        // the library's turns only: landing and checking drops is the benchmark's work
        Layers.fromSpark(ctx.counters, drops0.size, _ == "store.ingest") ++ Map(
        "stream.startup_s_p50" -> Stats.p50OrZero(ctx.progress.startupSeconds),
        "store.ingest_s_p50" -> Stats.p50OrZero(spans.durations("store.ingest")),
        "store.seen_bands_s_p50" -> Stats.p50OrZero(spans.durations("store.seen_bands")),
        "store.seen_band_rows_end" -> seenRows.toDouble,
        "store.partitions_end" -> partitions.toDouble,
        "store.candidate_pairs_last" -> pairs.toDouble,
        "dedup.shingle_s" -> spans.durations("dedup.shingle").sum,
        "dedup.shingle_rows" -> shRows.toDouble,
        "dedup.band_s" -> spans.durations("dedup.band").sum,
        "dedup.band_rows" -> bandRows.toDouble,
        "dedup.candidates_s" -> spans.durations("dedup.candidates").sum,
        "trace.overhead_share" -> (t.busyS / runs.last.busyS - 1.0))
    }
    r
  }

  /** Docs per second of one crawl, on the session given. */
  def singleCore(ctx: Ctx): Double = {
    val c = runCrawl(ctx, crawl(ctx.seed), ctx.path("crawl"), new Result)
    c.docs / c.busyS
  }
}
