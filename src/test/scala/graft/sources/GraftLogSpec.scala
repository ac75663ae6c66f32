package graft.sources

import graft.TestSpark
import graft.streaming.{GraftLogConnector, Ops, Reliability}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The graftlog DSv2 source — live broker-semantics tests (reference:
  * Valkey backend consume/ack/lag tests, tests/test_matrix.py:57-116,
  * tests/test_enterprise_features.py; id scheme
  * pspf/connectors/memory.py:80-103; ordering docs/concurrency.md:5-11).
  */
class GraftLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("produce/batch-read: broker ids, dense per-partition offsets, same-key co-partitioning") {
    val dir = Files.createTempDirectory("graftlog").toString + "/events"
    (0 until 12).foreach { i =>
      GraftLog.append(dir, numPartitions = 4, key = s"k${i % 3}",
        valueJson = s"""{"n":$i}""", eventType = "tick")
    }
    val rows = spark.read.format("graftlog").load(dir).collect()
    assert(rows.length == 12)
    assert(rows.forall(_.getAs[String]("id").matches("""\d+-\d+""")))
    assert(rows.forall(_.getAs[String]("event_type") == "tick"))
    // same key → same partition (hash routing)
    val byKey = rows.groupBy(_.getAs[String]("key"))
    assert(byKey.values.forall(_.map(_.getAs[Int]("partition")).distinct.length == 1))
    // offsets dense per partition
    rows.groupBy(_.getAs[Int]("partition")).values.foreach { part =>
      assert(part.map(_.getAs[Long]("offset")).sorted.toSeq == (0L until part.length).toSeq)
    }
    // per-key production order preserved by offset order
    val k0 = rows.filter(_.getAs[String]("key") == "k0").sortBy(_.getAs[Long]("offset"))
      .map(r => r.getAs[String]("value"))
    assert(k0.toSeq == Seq("""{"n":0}""", """{"n":3}""", """{"n":6}""", """{"n":9}"""))
  }

  test("distributed produce: one writer task per log partition keeps per-key order and dense offsets") {
    val root = Files.createTempDirectory("graftlog_dist").toString
    val conn = new GraftLogConnector(root, numPartitions = 4)
    val n = 2000
    val rows = (0 until n).map(i => (s"k${i % 7}", "tick", s"""{"n":$i}"""))
    // 8 source partitions exercise the shuffle: several source slices
    // feed each log partition, and the _seq sort must re-interleave
    // them back into frame order
    val df = spark.sparkContext.parallelize(rows, 8).toDF("key", "event_type", "value")
    conn.writeBatch(df, "bulk")
    val got = conn.readBatch(spark, "bulk").collect()
    assert(got.length == n)
    got.groupBy(_.getAs[Int]("partition")).values.foreach { part =>
      assert(part.map(_.getAs[Long]("offset")).sorted.toSeq == (0L until part.length).toSeq)
    }
    (0 until 7).foreach { k =>
      val vals = got.filter(_.getAs[String]("key") == s"k$k")
      assert(vals.map(_.getAs[Int]("partition")).distinct.length == 1)
      val inOffsetOrder = vals.sortBy(_.getAs[Long]("offset")).map(_.getAs[String]("value")).toSeq
      val inFrameOrder = (0 until n).filter(_ % 7 == k).map(i => s"""{"n":$i}""")
      assert(inOffsetOrder == inFrameOrder)
    }
  }

  test("micro-batch stream resumes from checkpoint offsets; lag reflects unread records") {
    val root = Files.createTempDirectory("graftlog_s").toString
    val dir = s"$root/topic"
    val ckpt = s"$root/ckpt"
    (0 until 10).foreach(i =>
      GraftLog.append(dir, 4, s"k$i", s"""{"n":$i}"""))

    val seen = new ConcurrentLinkedQueue[String]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graftlog").load(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("value").collect().foreach(r => seen.add(r.getString(0)))
        }
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(seen.size == 10)
    assert(GraftLog.lag(dir, ckpt) == 0L)

    // produce 5 more: lag is visible before consuming, and the resumed
    // query reads EXACTLY the new slice (offsets from the checkpoint —
    // the consumer-group ack semantics, no re-delivery, no loss)
    (10 until 15).foreach(i => GraftLog.append(dir, 4, s"k$i", s"""{"n":$i}"""))
    assert(GraftLog.lag(dir, ckpt) == 5L)
    runOnce()
    assert(seen.size == 15)
    assert(seen.toArray.distinct.length == 15)
    assert(GraftLog.lag(dir, ckpt) == 0L)
  }

  test("appendBatch onceMarker: a retried/speculative writer task appends its slice exactly once") {
    val dir = Files.createTempDirectory("graftlog_once").toString + "/topic"
    val recs = (0 until 5).map(i => (s"k$i", "tick", s"""{"n":$i}"""))
    val first = GraftLog.appendBatch(dir, 0, recs.iterator, onceMarker = Some("produce-tok-p0"))
    assert(first.size == 5)
    // task retry / speculative twin: same marker → skip, no duplicates
    val retry = GraftLog.appendBatch(dir, 0, recs.iterator, onceMarker = Some("produce-tok-p0"))
    assert(retry.isEmpty)
    assert(GraftLog.latestOffsets(dir) == Map(0 -> 5L))
    // a NEW produce (fresh token) appends normally
    assert(GraftLog.appendBatch(dir, 0, recs.iterator, onceMarker = Some("produce-tok2-p0")).size == 5)
    assert(GraftLog.latestOffsets(dir) == Map(0 -> 10L))
  }

  test("retention trim sweeps idempotency markers past their window, keeps recent ones") {
    val dir = Files.createTempDirectory("graftlog_sweep").toString + "/topic"
    GraftLog.appendBatch(dir, 0,
      Iterator(("k", null, """{"n":1}""")), onceMarker = Some("produce-old-p0"))
    GraftLog.appendBatch(dir, 0,
      Iterator(("k", null, """{"n":2}""")), onceMarker = Some("produce-new-p0"))
    val old = java.nio.file.Paths.get(dir, "_markers", "produce-old-p0")
    java.nio.file.Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - GraftLog.markerRetentionMs - 1000))
    GraftLog.trim(dir, Map(0 -> 0L)) // no lines dropped; housekeeping runs
    assert(!java.nio.file.Files.exists(old))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_markers", "produce-new-p0")))
  }

  test("admission control allocates the trigger budget proportionally to backlog") {
    val dir = Files.createTempDirectory("graftlog_adm").toString + "/topic"
    def fill(p: Int, n: Int): Unit =
      GraftLog.appendBatch(dir, p, (0 until n).iterator.map(i => (s"k$i", null, s"""{"n":$i}""")))
    fill(0, 60); fill(1, 30); fill(2, 10)
    val stream = new GraftLogMicroBatchStream(dir)
    val end = stream.latestOffset(GraftLogOffset(Map.empty),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(50))
      .asInstanceOf[GraftLogOffset].counts
    // ascending-order filling would hand all 50 to partition 0 and
    // starve 1/2 under a sustained producer; proportional = 30/15/5
    assert(end == Map(0 -> 30L, 1 -> 15L, 2 -> 5L))
    assert(end.values.sum == 50L)
  }

  test("a user-supplied read schema that differs from the envelope is rejected, not ignored") {
    val dir = Files.createTempDirectory("graftlog_sch").toString + "/topic"
    GraftLog.append(dir, 1, "k", """{"n":1}""")
    val custom = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("whatever", org.apache.spark.sql.types.StringType)))
    // Spark 4 rejects the user schema before getTable (no
    // supportsExternalMetadata); the provider-level guard below is the
    // same contract for direct DSv2 callers — both must throw, never
    // silently serve the envelope schema under a different label
    val e = intercept[Exception] {
      spark.read.schema(custom).format("graftlog").load(dir).collect()
    }
    assert(e.getMessage.toLowerCase.contains("schema"))
    val g = intercept[IllegalArgumentException] {
      new GraftLogProvider().getTable(custom, Array.empty, new java.util.HashMap())
    }
    assert(g.getMessage.contains("fixed envelope schema"))
  }

  test("lag refuses multi-source checkpoints instead of guessing which offsets line is ours") {
    val dir = Files.createTempDirectory("graftlog_lag").toString + "/topic"
    GraftLog.append(dir, 1, "k", """{"n":1}""")
    val ckpt = Files.createTempDirectory("graftlog_lag_ckpt").toString
    Files.createDirectories(java.nio.file.Paths.get(ckpt, "commits"))
    Files.createDirectories(java.nio.file.Paths.get(ckpt, "offsets"))
    Files.write(java.nio.file.Paths.get(ckpt, "commits", "0"), "v1\n{}".getBytes)
    Files.write(java.nio.file.Paths.get(ckpt, "offsets", "0"),
      "v1\n{\"batchTimestampMs\":1}\n{\"0\":1}\n{\"0\":2}".getBytes)
    val e = intercept[IllegalArgumentException](GraftLog.lag(dir, ckpt))
    assert(e.getMessage.contains("source offset entries"))
  }

  test("torn-tail recovery: a partial append is sealed as a tombstone, later records read cleanly") {
    val dir = Files.createTempDirectory("graftlog_torn").toString + "/t"
    GraftLog.append(dir, 1, "k1", """{"n":1}""")
    // simulate a producer crash mid-append: partial line, no newline
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "p=0", "log.jsonl"),
      """{"id":"999-0","key":"k2","val""".getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    // next append seals the torn line and lands intact
    GraftLog.append(dir, 1, "k3", """{"n":3}""")
    val rows = spark.read.format("graftlog").load(dir).collect()
    // tombstone line occupies offset 1 but emits no row
    assert(rows.map(_.getAs[String]("key")).toSet == Set("k1", "k3"))
    assert(rows.map(_.getAs[Long]("offset")).toSet == Set(0L, 2L))
    assert(GraftLog.latestOffsets(dir) == Map(0 -> 3L))
  }

  test("maxRecordsPerTrigger paces consumption in capped batches without loss (reference batch_size)") {
    val root = Files.createTempDirectory("graftlog_adm").toString
    val dir = s"$root/topic"
    (0 until 10).foreach(i => GraftLog.append(dir, 2, s"k$i", s"""{"n":$i}"""))

    val batchSizes = new ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graftlog")
      .option("maxRecordsPerTrigger", "3")
      .load(dir)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(b.count()); ()
      }
      .start()
    q.awaitTermination()
    val sizes = batchSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(sizes.sum == 10, s"no loss; got ${sizes.toSeq}")
    assert(sizes.forall(_ <= 3), s"cap respected; got ${sizes.toSeq}")
    assert(sizes.length >= 4) // 10 records at <=3/trigger needs >=4 batches
  }

  test("DLQ replay round-trips the ORIGINAL payload: metadata folded in, then stripped back out") {
    val root = Files.createTempDirectory("graftlog_rp").toString
    val conn = new GraftLogConnector(root, numPartitions = 2, keyCol = "event_id")
    // _trace_id rides INSIDE the payload (trace-context propagation) —
    // replay must strip only the DLQ family, never the trace
    conn.writeBatch(Seq(("e1", "ok", "t-abc"), ("e2", "boom", "t-def"))
      .toDF("event_id", "status", "_trace_id"), "orders")
    val originalByKey = conn.readBatch(spark, "orders").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap

    Reliability.reliableBatch(conn, "orders", "key", maxRetries = 0) { row =>
      if (row.getAs[String]("value").contains("boom")) throw new RuntimeException("bad")
    }.apply(conn.readBatch(spark, "orders"), 0L)

    // DLQ value = original payload + flat _-metadata (reference DLQ shape)
    val dlqVal = conn.readBatch(spark, conn.dlqTopic("orders")).collect().head.getAs[String]("value")
    assert(dlqVal.contains("\"_error\"") && dlqVal.contains("\"status\":\"boom\""))

    assert(Reliability.replayDlq(spark, conn, "orders") == 1)
    // replayed record equals the ORIGINAL: no nesting, no metadata
    val replayed = conn.readBatch(spark, "orders").collect()
      .filter(_.getAs[String]("key") == "e2").sortBy(_.getAs[Long]("offset")).last
    assert(replayed.getAs[String]("value") == originalByKey("e2"))
    assert(!replayed.getAs[String]("value").contains("_error"))
    assert(replayed.getAs[String]("value").contains("\"_trace_id\":\"t-def\""))
  }

  test("retention trim drops consumed prefixes; absolute offsets and consumer positions survive") {
    val root = Files.createTempDirectory("graftlog_trim").toString
    val dir = s"$root/topic"
    val ckpt = s"$root/ckpt"
    (0 until 10).foreach(i => GraftLog.append(dir, 4, s"k$i", s"""{"n":$i}"""))

    val seen = new ConcurrentLinkedQueue[String]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graftlog").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("value").collect().foreach(r => seen.add(r.getString(0))); ()
        }
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(seen.size == 10 && GraftLog.lag(dir, ckpt) == 0L)

    GraftLog.trimToCommitted(dir, ckpt)
    // physically gone, but the high watermark (absolute offsets) is unchanged
    assert(spark.read.format("graftlog").load(dir).count() == 0)
    assert(GraftLog.latestOffsets(dir).values.sum == 10L)
    assert(GraftLog.lag(dir, ckpt) == 0L)

    // appends continue at stable absolute offsets; the consumer reads
    // EXACTLY the new records from its checkpointed position
    (10 until 13).foreach(i => GraftLog.append(dir, 4, s"k$i", s"""{"n":$i}"""))
    assert(GraftLog.lag(dir, ckpt) == 3L)
    runOnce()
    assert(seen.size == 13 && seen.toArray.distinct.length == 13)
    assert(GraftLog.lag(dir, ckpt) == 0L)
    // batch read sees only retained records, with offsets >= their base
    val rows = spark.read.format("graftlog").load(dir).collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getAs[Long]("offset") >=
      GraftLog.baseOffset(dir, r.getAs[Int]("partition"))))

    // the ctl verbs drive the same surfaces
    assert(graft.Ctl.run(spark, root, "lag", Array("topic", ckpt)) == Right("0"))
    assert(graft.Ctl.run(spark, root, "trim", Array("topic", ckpt)) == Right("trimmed"))
    assert(spark.read.format("graftlog").load(dir).count() == 0)
  }

  test("connector: arbitrary frames wrap to value JSON; failures land in the DLQ topic") {
    val root = Files.createTempDirectory("graftlog_c").toString
    val conn = new GraftLogConnector(root, numPartitions = 2, keyCol = "event_id")
    val batch = Seq(("e1", "ok"), ("e2", "boom")).toDF("event_id", "status")
    conn.writeBatch(batch, "orders")

    val envelope = conn.readBatch(spark, "orders").collect()
    assert(envelope.length == 2)
    assert(envelope.map(_.getAs[String]("key")).toSet == Set("e1", "e2"))
    assert(envelope.forall(_.getAs[String]("value").contains("event_id")))

    // reliability layer over the broker: failing rows → {topic}-dlq
    Reliability.reliableBatch(conn, "orders", "key", maxRetries = 0) { row =>
      if (row.getAs[String]("value").contains("boom")) throw new RuntimeException("bad")
    }.apply(conn.readBatch(spark, "orders"), 0L)
    assert(Ops.dlqCount(spark, conn, "orders") == 1)
    val dlqRow = Ops.dlqInspect(spark, conn, "orders", 5).collect().head
    assert(dlqRow.getAs[String]("value").contains("_error"))
  }

  test("writeBatchIdempotent: replaying a batch whose produce completed appends nothing") {
    val root = Files.createTempDirectory("graftlog_idem").toString
    val conn = new GraftLogConnector(root, numPartitions = 2, keyCol = "event_id")
    val leg = Seq(("e1", "a"), ("e2", "b"), ("e3", "c")).toDF("event_id", "status")
    conn.writeBatchIdempotent(leg, "orders", batchId = 7, writerId = "w/1")
    // the driver crashed after the produce job but before any batch-level
    // completion marker landed: there is none for the replay to find
    Files.deleteIfExists(java.nio.file.Paths.get(root, "orders", "_markers", "w_1-7"))
    conn.writeBatchIdempotent(leg, "orders", batchId = 7, writerId = "w/1")
    assert(conn.readBatch(spark, "orders").count() == 3)
    // the writer's next batch still appends
    conn.writeBatchIdempotent(leg, "orders", batchId = 8, writerId = "w/1")
    assert(conn.readBatch(spark, "orders").count() == 6)
  }

  /** The offsets a from-scratch count gives: base + '\n' bytes of each
    * partition's current generation — independent of the scan cache. */
  private def recount(dir: String): Map[Int, Long] = {
    val parts = scala.util.Using.resource(Files.list(java.nio.file.Paths.get(dir))) { ls =>
      ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("p=")).map(_.stripPrefix("p=").toInt).toList
    }
    parts.map { p =>
      val (base, f) = GraftLog.currentLog(dir, p)
      p -> (base + (if (Files.exists(f)) Files.readAllBytes(f).count(_ == '\n') else 0))
    }.toMap
  }

  private def drainOnce(dir: String, ckpt: String, seen: ConcurrentLinkedQueue[String]): Unit =
    spark.readStream.format("graftlog").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("key").collect().foreach(r => seen.add(r.getString(0))); ()
      }
      .start().awaitTermination()

  test("an in-flight append's unterminated tail is not a record until its newline lands") {
    val root = Files.createTempDirectory("graftlog_inflight").toString
    val dir = s"$root/topic"
    val ckpt = s"$root/ckpt"
    GraftLog.append(dir, 1, "k1", """{"n":1}""")
    // a producer's buffered writer flushes mid-line: half a record, no newline
    val f = java.nio.file.Paths.get(dir, "p=0", "log.jsonl")
    val rec = """{"id":"5-0","key":"k2","value":"{\"n\":2}","ts":5}"""
    val (head, rest) = rec.splitAt(rec.length / 2)
    Files.write(f, head.getBytes, java.nio.file.StandardOpenOption.APPEND)
    assert(GraftLog.latestOffsets(dir) == Map(0 -> 1L))
    val seen = new ConcurrentLinkedQueue[String]()
    drainOnce(dir, ckpt, seen)
    assert(seen.toArray.toSeq == Seq("k1"))
    drainOnce(dir, ckpt, seen)
    assert(seen.toArray.toSeq == Seq("k1"), "the partial line must not be consumed")
    // the append completes: the next batch reads the record exactly once
    Files.write(f, (rest + "\n").getBytes, java.nio.file.StandardOpenOption.APPEND)
    assert(GraftLog.latestOffsets(dir) == Map(0 -> 2L))
    drainOnce(dir, ckpt, seen)
    assert(seen.toArray.toSeq == Seq("k1", "k2"))
    assert(GraftLog.lag(dir, ckpt) == 0L)
  }

  test("incremental end offsets equal a from-scratch recount across appends, seals, trims and purges") {
    val root = Files.createTempDirectory("graftlog_count").toString
    val dir = s"$root/topic"
    def check(): Unit = assert(GraftLog.latestOffsets(dir) == recount(dir))
    def fill(p: Int, n: Int, pad: Int = 8): Unit =
      GraftLog.appendBatch(dir, p,
        (0 until n).iterator.map(i => (s"k$i", null, s"""{"n":$i,"pad":"${"x" * pad}"}""")))
    // interleaved appends across partitions, counted between each
    (1 to 6).foreach { round => fill(round % 2, round * 7); check() }
    // torn tail: excluded while torn, a tombstone line once sealed
    val f0 = GraftLog.currentLog(dir, 0)._2
    Files.write(f0, """{"id":"1-0","ke""".getBytes, java.nio.file.StandardOpenOption.APPEND)
    check()
    fill(0, 3); check()
    // retention trim installs a new generation at a higher base
    GraftLog.trim(dir, Map(0 -> 20L, 1 -> 5L)); check()
    fill(0, 5); fill(1, 5); check()
    // purge and re-create the same path, growing it past the cached end
    val conn = new GraftLogConnector(root, numPartitions = 2)
    val cachedEnd = Files.size(GraftLog.currentLog(dir, 1)._2)
    assert(conn.purgeTopic(spark, "topic"))
    assert(!GraftLog.indexedFiles.exists(_.startsWith(java.nio.file.Paths.get(dir))))
    while (!Files.exists(GraftLog.currentLog(dir, 1)._2) ||
      Files.size(GraftLog.currentLog(dir, 1)._2) <= cachedEnd) fill(1, 20, pad = 40)
    check()
    // the same, deleted behind the cache's back (another process): the
    // changed file identity forces a recount
    val g = GraftLog.currentLog(dir, 1)._2
    val grown = Files.size(g)
    Files.delete(g)
    while (!Files.exists(g) || Files.size(g) <= grown) fill(1, 20, pad = 40)
    check()
    // rewritten in place (same file identity) with longer lines: only
    // the tail check tells the new content from the old
    val rewritten = Files.size(g)
    Files.write(g, Array.emptyByteArray)
    while (Files.size(g) <= rewritten) fill(1, 20, pad = 90)
    check()
    fill(0, 2); fill(1, 2); check()
  }

  test("a seek-hinted read returns the rows of an unhinted one: exact, below, stale and cold hints") {
    val dir = Files.createTempDirectory("graftlog_seek").toString + "/topic"
    // ~2.5 MB in one partition, so the index holds byte-stride marks
    GraftLog.appendBatch(dir, 0,
      (0 until 12000).iterator.map(i => (s"k$i", null, s"""{"n":$i,"pad":"${"y" * 180}"}""")))
    GraftLog.latestOffsets(dir)
    val (base, f) = GraftLog.currentLog(dir, 0)
    val bytes = Files.readAllBytes(f)
    val lineStart = (0L +: bytes.indices.filter(bytes(_) == '\n').map(_ + 1L)).toIndexedSeq
    def read(start: Long, end: Long, hint: Option[GraftLog.SeekHint]): Seq[(Long, String)] = {
      val r = new GraftLogPartitionReader(GraftLogInputPartition(dir, 0, start, end, hint))
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => (r.get().getLong(1), r.get().getUTF8String(5).toString.takeWhile(_ != ','))).toList
      finally r.close()
    }
    val (s, e) = (9001L, 9051L)
    val plain = read(s, e, None)
    assert(plain.map(_._1) == (s until e))
    def hint(line: Long, pos: Long) = Some(GraftLog.SeekHint(f.toString, base, line, pos))
    // exact, and below the start (the residual lines are skipped)
    assert(read(s, e, hint(s, lineStart(s.toInt))) == plain)
    assert(read(s, e, hint(s - 7, lineStart(s.toInt - 7))) == plain)
    val planned = GraftLog.seekHint(f, base, s).get
    assert(planned.line > 0 && planned.line <= s)
    assert(read(s, e, Some(planned)) == plain)
    // stale: another generation, or a position not after a '\n'
    assert(read(s, e, Some(planned.copy(base = base + 1))) == plain)
    assert(read(s, e, Some(planned.copy(file = f.toString + ".old"))) == plain)
    assert(read(s, e, hint(s, lineStart(s.toInt) + 3)) == plain)
    // a cleared cache (a fresh JVM): no hint until one full count
    GraftLog.resetIndex()
    val cold = GraftLogScan.plan(dir, Map(0 -> s), Map(0 -> e)).head.asInstanceOf[GraftLogInputPartition]
    assert(cold.hint.isEmpty)
    assert(read(s, e, cold.hint) == plain)
    GraftLog.latestOffsets(dir)
    val warm = GraftLogScan.plan(dir, Map(0 -> s), Map(0 -> e)).head.asInstanceOf[GraftLogInputPartition]
    assert(warm.hint.exists(_.line > 0))
    assert(read(s, e, warm.hint) == plain)
  }

  test("retiring a generation evicts its scan cache entry; the survivor copy keeps absolute offsets") {
    val dir = Files.createTempDirectory("graftlog_evict").toString + "/topic"
    GraftLog.appendBatch(dir, 0, (0 until 10).iterator.map(i => (s"k$i", null, s"""{"n":$i}""")))
    GraftLog.latestOffsets(dir)
    val gen0 = GraftLog.currentLog(dir, 0)._2
    assert(GraftLog.indexedFiles.contains(gen0))
    GraftLog.trim(dir, Map(0 -> 4L))
    assert(!GraftLog.indexedFiles.contains(gen0))
    val gen4 = GraftLog.currentLog(dir, 0)._2
    assert(gen4.getFileName.toString == "log-4.jsonl")
    assert(GraftLog.latestOffsets(dir) == Map(0 -> 10L))
    GraftLog.trim(dir, Map(0 -> 7L))
    assert(!GraftLog.indexedFiles.contains(gen4))
    assert(GraftLog.indexedFiles.count(_.startsWith(java.nio.file.Paths.get(dir))) <= 1)
    val rows = spark.read.format("graftlog").load(dir).collect()
    assert(rows.map(_.getAs[Long]("offset")).sorted.toSeq == Seq(7L, 8L, 9L))
    assert(rows.map(_.getAs[String]("value")).sorted.toSeq ==
      Seq("""{"n":7}""", """{"n":8}""", """{"n":9}"""))
  }
}
