package perfbench

/** Generator determinism: every workload's inputs, digested for two
  * seeds, must repeat byte for byte under the same seed and differ
  * under another. No Spark session is involved. */
object SelfTest {
  private def streamInputs(seed: Long): Iterator[String] = {
    val base = 1700000000000L
    val events = new Gen.EventStream(seed, base - 600000L)
    (events.history(2000, base, 20000L) ++
      Iterator.range(0, 20000).map(i => events.event(i, base + i / 10)))
      .map(e => s"${e.key}|${e.eventType}|${Gen.eventJson(e)}")
  }

  private def crawlInputs(seed: Long): Iterator[String] =
    CrawlIngest.crawl(seed).iterator.zipWithIndex.flatMap { case (d, k) =>
      d.docs.iterator.map { case (id, ws) => s"$k|$id|${ws.mkString(" ")}" }
    }

  def run(): String = {
    val inputs = Seq[(String, Long => Iterator[String])](
      "stream_events" -> streamInputs, "crawl_ingest" -> crawlInputs)
    val rows = inputs.map { case (name, f) =>
      val (a, b, c) = (Gen.digest(f(1)), Gen.digest(f(1)), Gen.digest(f(2)))
      (name, a == b, a != c, a, c)
    }
    val ok = rows.forall(r => r._2 && r._3)
    val body = rows.map { case (n, same, differs, a, c) =>
      s""""$n": {"same_seed_identical": $same, "other_seed_differs": $differs, """ +
        s""""seed1_sha256": "$a", "seed2_sha256": "$c"}"""
    }.mkString(", ")
    s"""{"correct": $ok, $body}"""
  }
}
