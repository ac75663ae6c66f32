package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the library sees comes from
  * here, as a pure function of the seed (and of schedule-relative
  * times, so a run re-based on another wall clock is the same input). */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(n - 1)
    }
  }

  // ---------------------------------------------------------------- stream

  /** One event of the open-loop stream. `dueMs` is the schedule time the
    * generator must append it at and becomes `created_ms`; `eventMs` is
    * its event time. */
  final case class Ev(seq: Long, key: String, eventType: String, amount: Int,
                      dueMs: Long, eventMs: Long, farLate: Boolean)

  object StreamTraffic {
    val keys = 2000
    val keySkew = 1.1
    val types: Seq[(String, Double)] = Seq("click" -> 0.70, "view" -> 0.25, "purchase" -> 0.05)
    val windowMs = 2000L
    val watermarkMs = 4000L
    /** Share of events whose event time trails creation, by up to half the watermark. */
    val outOfOrderShare = 0.10
    val outOfOrderMaxMs = 2000L
    /** Share of events so late that the watermark must drop them. */
    val farLateShare = 0.005
    /** Event type of the retained history: one the job does not handle. */
    val historyType = "heartbeat"
  }

  /** The stream's events by sequence number. Far-late events each get
    * their own old window below `farFloorMs`, so the state operator
    * drops exactly one row per far-late event. */
  final class EventStream(seed: Long, farFloorMs: Long) {
    import StreamTraffic._
    private val zipf = new Zipf(keys, keySkew)
    private val cum = types.map(_._2).scanLeft(0.0)(_ + _).tail

    /** Deterministic per (seed, seq): the schedule decides only `dueMs`. */
    def event(seq: Long, dueMs: Long): Ev = {
      val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + seq)
      val key = f"k${zipf.sample(r)}%04d"
      val u = r.nextDouble()
      val t = types(cum.indexWhere(u < _).max(0))._1
      val amount = 1 + r.nextInt(100)
      val v = r.nextDouble()
      if (v < farLateShare)
        Ev(seq, key, t, amount, dueMs, farFloorMs - (seq + 1) * windowMs * 2, farLate = true)
      else if (v < farLateShare + outOfOrderShare)
        Ev(seq, key, t, amount, dueMs, dueMs - r.nextLong(outOfOrderMaxMs), farLate = false)
      else Ev(seq, key, t, amount, dueMs, dueMs, farLate = false)
    }

    /** Retained history: `n` in-order events spread over `spanMs` before
      * `endMs`, all of `historyType`, which the job does not handle. */
    def history(n: Int, endMs: Long, spanMs: Long): Iterator[Ev] =
      Iterator.range(0, n).map { i =>
        val r = new SplittableRandom(seed ^ (0x5DEECE66DL * (i + 1)))
        val due = endMs - spanMs + spanMs * i / n
        Ev(-1L - i, f"h${r.nextInt(64)}%02d", historyType, 1 + r.nextInt(100), due, due, farLate = false)
      }
  }

  def eventJson(e: Ev): String =
    s"""{"event_ts":${e.eventMs},"created_ms":${e.dueMs},"amount":${e.amount},"seq":${e.seq}}"""

  // ---------------------------------------------------------------- docs

  /** Vocabulary word `i`: short pseudo-words, deterministic. */
  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) { sb += ('a' + x % 26).toChar; x /= 26 }
    sb.toString
  }

  private val vocab: Array[String] = Array.tabulate(20000)(word)

  /** A fresh document of `len` words drawn uniformly from the vocabulary. */
  def doc(r: SplittableRandom, len: Int): Array[String] =
    Array.fill(len)(vocab(r.nextInt(vocab.length)))

  /** A copy of `src` with about `share` of its words replaced, giving a
    * word-3-shingle Jaccard that falls as `share` grows. */
  def mutate(r: SplittableRandom, src: Array[String], share: Double): Array[String] =
    src.map(w => if (r.nextDouble() < share) vocab(r.nextInt(vocab.length)) else w)

  /** Exact word-3-shingle Jaccard, the similarity the library verifies. */
  def jaccard(a: Array[String], b: Array[String]): Double = {
    def shingles(x: Array[String]) = x.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (sa, sb) = (shingles(a), shingles(b))
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.count(sb.contains)
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }

  /** Hex SHA-256 of a sequence of lines, for the determinism self-test. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
