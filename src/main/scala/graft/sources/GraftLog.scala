package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** Producer/admin API for the graftlog broker emulation (reference:
  * Valkey streams backend, pspf/connectors/valkey.py:83-389, and the
  * LocalLog partitioned append-only log, pspf/log/local_log.py:17-266).
  *
  * Semantics mirrored:
  *  - Redis-stream message ids `"<ms>-<seq>"`, monotonic per partition
  *    (pspf/connectors/memory.py:80-103 mimics the same scheme);
  *  - hash(key) % numPartitions routing with same-key ordering inside a
  *    partition (pspf/log/local_log.py:48-49, docs/concurrency.md:5-11);
  *  - complex values JSON-stringified before append
  *    (pspf/connectors/valkey.py:281-293);
  *  - consumer-group offsets + lag (XPENDING/XINFO, valkey.py:362-389):
  *    the Spark checkpoint IS the consumer group — `lag` diffs the
  *    latest log offsets against a checkpoint's last committed offsets.
  *
  * The storage is a directory per topic with one append-only JSONL file
  * per partition (`p=<n>/log.jsonl`). A real deployment points the same
  * read path at Kafka; this backend exists so the broker semantics are
  * LIVE-testable with zero external processes. The producer is a
  * client-side call (like XADD) — single-writer per process, like the
  * reference's asyncio producer.
  */
object GraftLog {
  import org.apache.spark.sql.types._

  /** The fixed envelope schema every graftlog topic exposes —
    * the reference's StreamRecord (pspf/models.py:5-16). */
  val schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("key", StringType),
    StructField("event_type", StringType),
    StructField("value", StringType),
    StructField("timestamp", TimestampType, nullable = false)))

  private val mapper = new ObjectMapper()

  /** Reference partitioner: hash(key) % num_partitions
    * (pspf/log/local_log.py:48-49). String.hashCode is stable across
    * JVMs, so routing is deterministic. */
  def partitionFor(key: String, numPartitions: Int): Int =
    math.floorMod(if (key == null) 0 else key.hashCode, numPartitions)

  // last issued (ms, seq) per (dir, partition) — per-process monotonic,
  // like the reference's in-process id generator
  private val lastId = new java.util.concurrent.ConcurrentHashMap[(String, Int), (Long, Long)]()

  private def nextId(dir: String, partition: Int, nowMs: Long): String = {
    val k = (dir, partition)
    val issued = lastId.compute(k, (_, prev) => prev match {
      case null => (nowMs, 0L)
      case (ms, seq) => if (nowMs > ms) (nowMs, 0L) else (ms, seq + 1)
    })
    s"${issued._1}-${issued._2}"
  }

  /** Current log file of a partition and its BASE offset. The base is
    * encoded in the FILE NAME (`log-<base>.jsonl`, plain `log.jsonl` ≡
    * base 0) so a retention trim commits data+base in one atomic
    * rename; when multiple logs exist (crash between rename and stale
    * delete), the highest base wins and the stale file is ignored. */
  private[sources] def currentLog(dir: String, p: Int): (Long, Path) = {
    // READ-path resolution — cache, invalidated whenever the cached
    // generation's file vanished (e.g. an external trim renamed it), so
    // hot reads do zero directory listings. Writers must NOT use this:
    // the existence check cannot see a crashed trim's newer generation
    // (freshLogForWrite), and readers already ignore stale lower bases.
    val cached = logCache.get((dir, p))
    if (cached != null && Files.exists(cached._2)) cached
    else {
      val resolved = listLogs(dir, p).maxByOption(_._1)
        .getOrElse(0L -> Paths.get(dir, s"p=$p", "log.jsonl"))
      logCache.put((dir, p), resolved)
      resolved
    }
  }

  private val logCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), (Long, Path)]()

  private def listLogs(dir: String, p: Int): Seq[(Long, Path)] = {
    val pdir = Paths.get(dir, s"p=$p")
    if (!Files.isDirectory(pdir)) Nil
    else scala.util.Using.resource(Files.list(pdir)) { ls =>
      ls.iterator().asScala.flatMap { f =>
        val n = f.getFileName.toString
        if (n == "log.jsonl") Some(0L -> f)
        else if (n.startsWith("log-") && n.endsWith(".jsonl"))
          n.stripPrefix("log-").stripSuffix(".jsonl").toLongOption.map(_ -> f)
        else None
      }.toSeq
    }
  }

  /** Cross-PROCESS mutual exclusion between append and trim (the object
    * monitor only covers one JVM; Ctl trim runs in its own): both hold
    * the partition's lock FILE while mutating, so a trim can never
    * shadow a record a concurrent producer appends to the old
    * generation. A JVM-level monitor per (dir, partition) wraps the file
    * lock: two threads of ONE JVM locking the same region would throw
    * OverlappingFileLockException (file locks are held per-JVM), and
    * local-mode executor tasks are exactly that case. */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Object]()

  private def withPartitionLock[T](dir: String, p: Int)(body: => T): T = {
    val monitor = jvmLocks.computeIfAbsent((dir, p), _ => new Object)
    monitor.synchronized {
      val pdir = Paths.get(dir, s"p=$p")
      Files.createDirectories(pdir)
      val ch = FileChannel.open(pdir.resolve(".lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  /** Generation resolution that does NOT trust the cache: writers must
    * call this INSIDE the partition lock. The read-path cache's
    * existence check is not enough for a writer — a trim that crashed
    * between installing log-<newBase>.jsonl and deleting the stale file
    * leaves BOTH on disk, and a warm cache would keep appending to the
    * stale lower-base generation whose records the next trim's
    * housekeeping deletes (silent data loss). Listing the directory and
    * taking the highest base upholds the documented crash invariant. */
  private def freshLogForWrite(dir: String, p: Int): (Long, Path) = {
    val resolved = listLogs(dir, p).maxByOption(_._1)
      .getOrElse(0L -> Paths.get(dir, s"p=$p", "log.jsonl"))
    logCache.put((dir, p), resolved)
    resolved
  }

  /** XADD: append one record, returning its broker id. Per-record cost
    * now includes a (tiny, 2–3 entry) directory listing inside the lock
    * — the price of the crashed-trim safety freshLogForWrite buys; bulk
    * producers should call appendBatch (or produce through
    * GraftLogConnector), which amortizes lock/seal/listing per batch. */
  def append(dir: String, numPartitions: Int, key: String,
             valueJson: String, eventType: String = null,
             nowMs: Long = System.currentTimeMillis()): String = {
    val p = partitionFor(key, numPartitions)
    appendBatch(dir, p, Iterator((key, eventType, valueJson)), nowMs).head
  }

  /** Batch append to ONE partition — the executor-side produce path
    * (GraftLogConnector routes each log partition to exactly one task,
    * so a distributed produce has a single writer per partition). Holds
    * the partition lock ONCE for the whole batch, seals the torn tail
    * once, and streams records through one buffered writer — per-record
    * lock/open cost is what made the driver-collect produce the only
    * option before. Returns the broker ids in append order.
    *
    * Id semantics: `"<ms>-<seq>"` per-process monotonic (the reference's
    * in-process generator); one writer task per partition per job keeps
    * ids monotonic WITHIN a produce. Offsets (line numbers) — not ids —
    * are the ordering/consumption contract, as in LocalLog. */
  def appendBatch(dir: String, p: Int,
                  records: Iterator[(String, String, String)],
                  nowMs: Long = System.currentTimeMillis(),
                  onceMarker: Option[String] = None): Seq[String] = {
    if (!records.hasNext) return Nil
    val ids = Seq.newBuilder[String]
    withPartitionLock(dir, p) {
      // task-retry / speculative-execution guard: the marker is checked
      // and created INSIDE the partition lock, so a retried or twin
      // task whose predecessor completed the append skips it entirely
      // (exactly-once under retry-after-completion; a crash DURING the
      // append still duplicates the torn prefix on retry — the same
      // narrow at-least-once window as writeBatchIdempotent documents)
      val marker = onceMarker.map(m => Paths.get(dir, "_markers", m))
      if (!marker.exists(Files.exists(_))) {
        // resolve the generation INSIDE the lock, by directory listing —
        // never the cache: see freshLogForWrite for the crashed-trim case
        val f = freshLogForWrite(dir, p)._2
        sealTornTail(f)
        val w = Files.newBufferedWriter(f, StandardCharsets.UTF_8,
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        try {
          records.foreach { case (key, eventType, valueJson) =>
            val id = nextId(dir, p, nowMs)
            val node = mapper.createObjectNode()
            node.put("id", id)
            node.put("key", key)
            if (eventType != null) node.put("event_type", eventType)
            node.put("value", valueJson)
            node.put("ts", nowMs)
            w.write(mapper.writeValueAsString(node))
            w.write("\n")
            ids += id
          }
        } finally w.close()
        marker.foreach { m =>
          Files.createDirectories(m.getParent)
          Files.write(m, Array.emptyByteArray)
        }
      }
    }
    ids.result()
  }

  /** Torn-tail recovery (reference LocalLog CRC-scan + truncate,
    * pspf/log/local_log.py:75-138): a producer crash mid-append can
    * leave a partial line with no trailing newline. Sealing it with a
    * newline turns it into a permanent unparseable TOMBSTONE line —
    * readers count it (offsets stay dense and stable) but emit nothing,
    * and the next record never concatenates onto torn bytes. */
  private def sealTornTail(f: Path): Unit =
    if (Files.exists(f) && Files.size(f) > 0) {
      val ch = FileChannel.open(f, StandardOpenOption.READ)
      try {
        if (readAt(ch, Files.size(f) - 1, 1)(0) != '\n'.toByte)
          Files.write(f, "\n".getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
      } finally ch.close()
    }

  /** Trimmed-prefix base offset of a partition (0 until trimmed).
    * Offsets are ABSOLUTE: base + line index within the current file —
    * like LocalLog's segment base offsets (local_log.py:51-52), so
    * retention never shifts a consumer's position. */
  def baseOffset(dir: String, p: Int): Long = currentLog(dir, p)._1

  /** Current end offsets (base + line counts) per partition — the high
    * watermark (pspf/log/interfaces.py high-watermark surface). A line
    * counts once its '\n' lands: the unterminated tail of an in-flight
    * append is not yet a record. Counting is incremental (`indexed`).
    * Resolve+count retries on NoSuchFileException like the partition
    * reader does: a concurrent trim can rename the generation away
    * between the cache hit and the open — re-resolving finds the new
    * generation (the race window is the rename itself). */
  def latestOffsets(dir: String): Map[Int, Long] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Map.empty
    scala.util.Using.resource(Files.list(root)) { ls =>
      ls.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("p="))
        .map(_.getFileName.toString.stripPrefix("p=").toInt)
        .map { part =>
          var attempt = 0
          var out = -1L
          while (out < 0) {
            val (base, f) = currentLog(dir, part)
            try out = base + (if (Files.exists(f)) indexed(f).lines else 0L)
            catch {
              case e: NoSuchFileException =>
                logCache.remove((dir, part))
                attempt += 1
                if (attempt > 5) throw e
            }
          }
          part -> out
        }.toMap
    }
  }

  /** File line `line` of generation `file` (base offset `base`) starts
    * at byte `pos`: a reader starting at or after that line seeks there
    * and skips only the lines between it and its start. Validated
    * before use — see `openLines`. */
  final case class SeekHint(file: String, base: Long, line: Long, pos: Long)

  /** Driver-side scan state of one log file. `bytes` is the position
    * after its last '\n' and `lines` the line count up to it; `tail`
    * holds the bytes just before `bytes`, so a file replaced at the same
    * path (purge and re-create, possibly reusing the inode) is caught
    * and recounted. `marks` is the sparse (line, byte) seek index — one
    * mark per `stride` bytes — and `ends` the recently published ends,
    * which are exactly where the next micro-batches start. */
  private final class LogIndex(val key: AnyRef, val bytes: Long, val lines: Long,
                               val tail: Array[Byte], val stride: Long,
                               val marks: Vector[(Long, Long)],
                               val ends: Vector[(Long, Long)]) {
    /** The nearest known line start at or below file line `line`. */
    def markAtOrBelow(line: Long): (Long, Long) =
      (marks.iterator ++ ends.iterator).filter(_._1 <= line).maxByOption(_._1)
        .getOrElse((0L, 0L))
  }

  // initial mark stride (bytes); it doubles whenever a file would need
  // more than MaxMarks marks, so one file's index stays bounded, and
  // retiring a generation drops its entry, so the cache holds live
  // files only
  private final val IndexStride = 1L << 20
  private final val MaxMarks = 1024
  private final val RecentEnds = 8
  private final val TailCheck = 64
  private final val ScanChunk = 1 << 16

  private val emptyIndex =
    new LogIndex(null, 0L, 0L, Array.emptyByteArray, IndexStride, Vector.empty, Vector.empty)

  private val indexes = new java.util.concurrent.ConcurrentHashMap[Path, LogIndex]()

  /** Count `f` incrementally: stat it and scan only the bytes appended
    * since the cached end. A changed file identity, a shrunken size or
    * a tail that no longer matches rescans from byte 0 — a fresh JVM
    * pays that one full scan, every later call O(new bytes). */
  private def indexed(f: Path): LogIndex = {
    val attrs = Files.readAttributes(f, classOf[BasicFileAttributes])
    indexes.compute(f, (_, prev) => extend(f, attrs.fileKey(), attrs.size(), prev))
  }

  private def extend(f: Path, key: AnyRef, size: Long, prev: LogIndex): LogIndex =
    scala.util.Using.resource(FileChannel.open(f, StandardOpenOption.READ)) { ch =>
      val from =
        if (prev != null && prev.key == key && prev.bytes <= size &&
          java.util.Arrays.equals(readAt(ch, prev.bytes - prev.tail.length, prev.tail.length),
            prev.tail)) prev
        else emptyIndex
      var lines = from.lines
      var end = from.bytes
      var stride = from.stride
      val marks = scala.collection.mutable.ArrayBuffer.from(from.marks)
      var nextMark = marks.lastOption.fold(stride)(m => (m._2 / stride + 1) * stride)
      val chunk = new Array[Byte](ScanChunk)
      var pos = from.bytes
      var n = 0
      while (pos < size && {
        n = ch.read(ByteBuffer.wrap(chunk, 0, math.min(ScanChunk.toLong, size - pos).toInt), pos)
        n > 0
      }) {
        var i = 0
        while (i < n) {
          if (chunk(i) == '\n') {
            lines += 1
            end = pos + i + 1
            if (end >= nextMark) {
              marks += ((lines, end))
              if (marks.length > MaxMarks) {
                val kept = marks.indices.collect { case j if j % 2 == 1 => marks(j) }
                marks.clear()
                marks ++= kept
                stride *= 2
              }
              nextMark = (end / stride + 1) * stride
            }
          }
          i += 1
        }
        pos += n
      }
      if (end == from.bytes && from.ends.nonEmpty) from // nothing new landed
      else new LogIndex(key, end, lines,
        readAt(ch, math.max(0L, end - TailCheck), math.min(end, TailCheck.toLong).toInt),
        stride, marks.toVector, (from.ends :+ (lines -> end)).takeRight(RecentEnds))
    }

  private def readAt(ch: FileChannel, pos: Long, len: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(len)
    while (bb.hasRemaining && ch.read(bb, pos + bb.position()) > 0) ()
    bb.array()
  }

  /** The seek hint for reading generation (`base`, `f`) from absolute
    * offset `startLine`: the nearest indexed line start at or below it,
    * if this JVM has counted the file. */
  private[sources] def seekHint(f: Path, base: Long, startLine: Long): Option[SeekHint] =
    Option(indexes.get(f)).map { ix =>
      val (line, pos) = ix.markAtOrBelow(startLine - base)
      SeekHint(f.toString, base, line, pos)
    }

  /** Open `f` positioned at the start of file line `line`, seeking to
    * `mark` = (line, byte) when it is usable: at or below `line`, and
    * the byte before it a '\n' (or at byte 0). Otherwise — a stale or
    * foreign mark — skip from byte 0. '\n' is the only terminator, the
    * same rule `indexed` counts by. */
  private[sources] def openLines(f: Path, line: Long, mark: (Long, Long)): LogLines = {
    val ch = FileChannel.open(f, StandardOpenOption.READ)
    try {
      val (markLine, markPos) = mark
      val usable = markLine <= line &&
        (markPos == 0 || readAt(ch, markPos - 1, 1)(0) == '\n'.toByte)
      val lines = if (usable) new LogLines(ch, markPos) else new LogLines(ch, 0L)
      var skip = if (usable) line - markLine else line
      while (skip > 0 && lines.next()) skip -= 1
      lines
    } catch { case e: Throwable => ch.close(); throw e }
  }

  /** Drop every cached scan of the files under `dir` — a purged topic's
    * files are gone, and a re-created one must be counted afresh. */
  private[graft] def forget(dir: String): Unit = {
    val root = Paths.get(dir)
    indexes.keySet().removeIf(_.startsWith(root))
  }

  /** Clear the whole scan cache, as in a fresh JVM (tests only). */
  private[sources] def resetIndex(): Unit = indexes.clear()

  /** Files the scan cache currently holds (tests only). */
  private[sources] def indexedFiles: Set[Path] = indexes.keySet().asScala.toSet

  private def retire(f: Path): Unit = {
    Files.deleteIfExists(f)
    indexes.remove(f)
  }

  /** Retention trim (reference: LocalLog age-based cleanup,
    * pspf/log/local_log.py:254-266; Redis XTRIM): physically drop each
    * partition's prefix up to `upTo(p)`. The surviving suffix is
    * written to `log-<newBase>.jsonl` and installed with ONE atomic
    * rename — data and base offset commit together, so absolute offsets
    * (and therefore checkpointed consumer positions) are valid in every
    * crash window; a stale lower-base log left by a crash before the
    * cleanup delete is ignored (highest base wins) and removed by the
    * next trim. Single-writer like the producer. */
  def trim(dir: String, upTo: Map[Int, Long]): Unit = synchronized {
    sweepMarkers(dir)
    upTo.foreach { case (p, target) =>
      withPartitionLock(dir, p) {
        logCache.remove((dir, p))
        // housekeeping runs unconditionally: crash leftovers (stale
        // lower-base generations, orphaned tmp) must not wait for a
        // trim that actually drops lines
        val logs = listLogs(dir, p)
        logs.maxByOption(_._1).foreach { case (base, f) =>
          logs.filter(_._2 != f).foreach(g => retire(g._2))
          val tmp = f.getParent.resolve("log.jsonl.tmp")
          Files.deleteIfExists(tmp)
          val ix = indexed(f)
          val drop = math.min(math.max(0L, target - base), ix.lines)
          if (drop > 0) {
            val newBase = base + drop
            // copy the survivor suffix byte for byte — never the whole
            // log in heap — from the first kept line, found by seeking
            // to the index mark below it
            val from = scala.util.Using.resource(openLines(f, drop, ix.markAtOrBelow(drop)))(_.position)
            scala.util.Using.resources(
              FileChannel.open(f, StandardOpenOption.READ),
              FileChannel.open(tmp, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
                StandardOpenOption.TRUNCATE_EXISTING)) { (in, out) =>
              val size = in.size()
              var pos = from
              while (pos < size) pos += in.transferTo(pos, size - pos, out)
            }
            Files.move(tmp, f.getParent.resolve(s"log-$newBase.jsonl"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            retire(f)
            logCache.remove((dir, p))
          }
        }
      }
    }
  }

  /** Idempotency markers (produce retry guards + writeBatchIdempotent
    * batch guards) are only consulted within their own produce/replay
    * window; retention sweeps ones older than this so `_markers/` stays
    * bounded, piggybacking on trim like the log cleanup itself. */
  private[sources] val markerRetentionMs: Long = 7L * 24 * 3600 * 1000

  private def sweepMarkers(dir: String, nowMs: Long = System.currentTimeMillis()): Unit = {
    val mdir = Paths.get(dir, "_markers")
    if (Files.isDirectory(mdir))
      scala.util.Using.resource(Files.list(mdir)) { ls =>
        ls.iterator().asScala.foreach { f =>
          // a concurrent trim (Ctl runs in its own JVM) may delete the
          // file between the listing and the mtime read — losing that
          // race must not abort THIS trim before it touched a partition
          try {
            val age = nowMs - Files.getLastModifiedTime(f).toMillis
            if (age > markerRetentionMs) Files.deleteIfExists(f)
          } catch { case _: java.nio.file.NoSuchFileException => }
        }
      }
  }

  /** Trim everything every consumer of `checkpointDir` has committed —
    * the retention policy "keep only unconsumed data". DESTRUCTIVE, so
    * unlike the lenient lag heuristic it REFUSES multi-source
    * checkpoints: the first-parseable-line guess could hand back
    * another source's offsets and destroy unconsumed records. */
  def trimToCommitted(dir: String, checkpointDir: String): Unit = {
    val lines = committedOffsetLines(checkpointDir)
    val parsed = lines.flatMap(l => scala.util.Try(parseOffsetJson(l)).toOption)
    if (lines.size > 1)
      throw new IllegalArgumentException(
        s"checkpoint $checkpointDir has ${lines.size} source offset entries — " +
          "trimToCommitted supports single-graftlog-source checkpoints only; " +
          "call trim(dir, offsets) with this topic's offsets explicitly")
    parsed.headOption.filter(_.nonEmpty).foreach(trim(dir, _))
  }

  /** Consumer lag vs a Spark checkpoint (reference XPENDING / XINFO
    * GROUPS lag, pspf/connectors/valkey.py:362-389): latest log offsets
    * minus the checkpoint's last COMMITTED source offsets. Refuses
    * multi-source checkpoints just like trimToCommitted — guessing the
    * first parseable offsets line could silently diff ANOTHER source's
    * offsets against this topic and report a nonsense lag. */
  def lag(dir: String, checkpointDir: String): Long = {
    val lines = committedOffsetLines(checkpointDir)
    if (lines.size > 1)
      throw new IllegalArgumentException(
        s"checkpoint $checkpointDir has ${lines.size} source offset entries — " +
          "lag supports single-graftlog-source checkpoints only")
    val latest = latestOffsets(dir).values.sum
    val committed = committedOffsets(checkpointDir).values.sum
    latest - committed
  }

  /** Offsets of the last batch CONFIRMED in `<ckpt>/commits` — a
    * planned-but-uncommitted batch (crash mid-batch) does not count as
    * consumed, so lag stays honest across restarts. Offset-file format:
    * version line, metadata line, then one serialized Offset per
    * source; ours is the partition→count JSON object (for multi-source
    * checkpoints the first digit-keyed object line is taken — lag
    * introspection targets single-graftlog-source queries). */
  def committedOffsets(checkpointDir: String): Map[Int, Long] =
    committedOffsetLines(checkpointDir)
      .flatMap { line =>
        scala.util.Try {
          val m = parseOffsetJson(line)
          if (m.nonEmpty) Some(m) else None
        }.toOption.flatten
      }.headOption.getOrElse(Map.empty)

  /** The per-source offset lines of the newest COMMITTED batch's
    * offsets file (empty when nothing committed yet). */
  private def committedOffsetLines(checkpointDir: String): Seq[String] = {
    def newestBatch(sub: String): Option[Long] = {
      val dir = Paths.get(checkpointDir, sub)
      if (!Files.isDirectory(dir)) None
      else scala.util.Using.resource(Files.list(dir)) { ls =>
        ls.iterator().asScala
          .map(_.getFileName.toString)
          .filter(n => n.nonEmpty && n.forall(_.isDigit))
          .map(_.toLong) // numeric max — lexicographic would pick "9" over "10"
          .maxOption
      }
    }
    newestBatch("commits").map { committed =>
      val f = Paths.get(checkpointDir, "offsets", committed.toString)
      if (!Files.exists(f)) Nil
      else Files.readAllLines(f).asScala.toSeq.drop(2)
    }.getOrElse(Nil)
  }

  private[sources] def parseOffsetJson(json: String): Map[Int, Long] = {
    val node = mapper.readTree(json)
    node.properties().asScala.map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
  }

  private[sources] def offsetJson(counts: Map[Int, Long]): String = {
    val node = mapper.createObjectNode()
    counts.toSeq.sortBy(_._1).foreach { case (p, n) => node.put(p.toString, n) }
    mapper.writeValueAsString(node)
  }
}

/** Forward reader of '\n'-terminated log lines from a byte position,
  * for the partition reader and the trim survivor copy; `indexed`
  * counts lines by the same rule. An unterminated tail (an append still in
  * flight, or a crash leftover not yet sealed) is never returned. After
  * `next()` the line is `bytes(lineOff until lineOff + lineLen)`, valid
  * until the following call. */
private[sources] final class LogLines(ch: FileChannel, start: Long) extends AutoCloseable {
  private var buf = new Array[Byte](1 << 16)
  private var lo = 0 // first unconsumed byte in buf
  private var hi = 0 // end of valid bytes in buf
  private var filePos = start // file position of buf(hi)
  var lineOff = 0
  var lineLen = 0
  def bytes: Array[Byte] = buf

  /** File position of the first byte not yet returned as a line. */
  def position: Long = filePos - (hi - lo)

  def next(): Boolean = {
    var i = lo
    while (true) {
      while (i < hi) {
        if (buf(i) == '\n') {
          lineOff = lo
          lineLen = i - lo
          lo = i + 1
          return true
        }
        i += 1
      }
      val scanned = i - lo
      if (!fill()) return false
      i = lo + scanned
    }
    false
  }

  // compact the pending partial line to the front (growing the buffer
  // for a line longer than it) and read more; false at end of file
  private def fill(): Boolean = {
    if (lo > 0) {
      System.arraycopy(buf, lo, buf, 0, hi - lo)
      hi -= lo
      lo = 0
    }
    if (hi == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    val n = ch.read(ByteBuffer.wrap(buf, hi, buf.length - hi), filePos)
    if (n <= 0) false
    else {
      hi += n
      filePos += n
      true
    }
  }

  override def close(): Unit = ch.close()
}
