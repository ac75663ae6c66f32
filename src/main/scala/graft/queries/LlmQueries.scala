package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM training-data pipeline operators (north star beyond the reference):
  * dedup family, similarity search, text analysis, multimodal plumbing.
  * Each query wraps the reusable operator in graft.operators / functions
  * and has a DuckDB oracle that reproduces the algorithm exactly (md5 as
  * the only hash → engine-portable).
  */
object LlmQueries {

  /** Land crawl drop `k` as exactly ONE source file whose mtime is
    * PINNED to epoch `(k+1)` seconds. The file stream source orders
    * available files oldest-first by modification time, so the pin
    * makes "micro-batch k == drop k" a deterministic property of the
    * data instead of the writer's clock — the loops' strictly-before
    * store reads (and their oracles' drop assignment) ride on exactly
    * that mapping. Fresh (just-written, still clock-stamped) files are
    * distinguished from already-pinned ones by their ~current mtime. */
  private[queries] def landDrop(drop: DataFrame, srcDir: String, k: Int): Unit = {
    drop.coalesce(1).write.mode("append").parquet(srcDir)
    val p = new org.apache.hadoop.fs.Path(srcDir)
    val fs = p.getFileSystem(drop.sparkSession.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        st.getModificationTime > 1000L * 1000)
      .foreach(st => fs.setTimes(st.getPath, 1000L * (k + 1), -1))
  }

  /** The committed verdict-partition ids under `outDir` must be exactly
    * 0 until n — one micro-batch per landed drop, none split, none
    * skipped. Enforced executably after each streaming run so a
    * trigger-config drift fails HERE, not as a silent oracle desync. */
  private[queries] def requireDropBatches(outDir: String, n: Int): Unit = {
    val ids = Option(new java.io.File(outDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .map(_.getName.stripPrefix("ingest_batch=").toLong).sorted
    require(ids == (0L until n.toLong),
      s"expected one micro-batch per drop (ids 0..${n - 1}), got [${ids.mkString(", ")}] — " +
        "the one-batch-per-drop trigger contract broke")
  }

  /** The graded drop harness every streaming store-loop query shares,
    * in the two-start shape by default: drops 0–2 land first as single
    * pinned-mtime files (`landDrop`) and ONE AvailableNow run with
    * `maxFilesPerTrigger=1` drains them as micro-batches 0–2 — the fixed
    * per-`start()` cost (~70 % of these entries' wall time at sf0.1,
    * measured by Bench's startup_s column) is paid once instead of three
    * times. Drop 3 lands only AFTER that run exits, so the second start
    * is a GENUINE checkpoint RESUME: the carried source log assigns it
    * batch id 3 and its turn reads the first run's store partitions
    * strictly below it — the restart contract stays graded, not just
    * rehearsed.
    *
    * Each leg runs `beforeLeg(leg index)`, lands its drops
    * (`drop(k)` as file k under `root/src`), and drains them with one
    * `start` over the `root/src` file stream (schema from `corpus`)
    * under stream shuffle partitions sized from `corpus`: streaming
    * plans (everything inside foreachBatch included) run with AQE off,
    * so nothing else right-sizes the per-drop shuffles and store writes.
    * When `checkBatches`, `requireDropBatches` then pins one
    * `root/out` partition per drop landed so far. */
  private[queries] def runDrops(s: SparkSession, corpus: DataFrame, root: String,
                                drop: Int => DataFrame,
                                legs: Seq[Range] = Seq(0 until 3, 3 until 4),
                                checkBatches: Boolean = true,
                                beforeLeg: Int => Unit = _ => ())(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit =
    legs.zipWithIndex.foreach { case (leg, i) =>
      beforeLeg(i)
      leg.foreach(k => landDrop(drop(k), s"$root/src", k))
      graft.GraftSession.withStreamPartitions(s, corpus) {
        start(s.readStream.schema(corpus.schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$root/src")).awaitTermination()
      }
      if (checkBatches) requireDropBatches(s"$root/out", leg.end)
    }

  /** The four doc_id % 4 crawl drops of the dedup and winnow loops. */
  private def docDrops(docs: DataFrame): Int => DataFrame =
    k => docs.filter(col("doc_id") % 4 === k)

  /** l61's crawl loop parameters; `exactCounts` picks the verdict path. */
  private def crawlCfg(exactCounts: Boolean = true) =
    graft.streaming.IncrementalDedup.Config("doc_id", "text",
      shingleN = 3, numHashes = 8, rowsPerBand = 2, exactCounts = exactCounts)

  /** l92's winnow loop parameters; `maxDf` > 0 arms the per-turn
    * hot-fingerprint cap. */
  private def winnowCfg(maxDf: Long = 0) =
    graft.streaming.IncrementalDedup.WinnowConfig("doc_id", "text",
      k = 5, w = 4, minShared = 2, maxDf = maxDf)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Text quality features (all codegen'd built-ins, no UDFs).
    "l1_text_stats" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id") +: TextFunctions.qualityColumns(col("text")): _*)
        .orderBy(col("doc_id"))
    }),

    // Language-ID heuristic (stopword scoring, fixed-priority argmax).
    "l2_text_langid" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(TextFunctions.langId(col("text")).as("lang_detected"))
        .groupBy(col("lang_detected")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_detected"))
    }),

    // Content fingerprint per document.
    "l3_fingerprint" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Exact dedup by content hash.
    "l4_dedup_exact" -> ((s, dir) => {
      Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("keep_id"))
    }),

    // Exact 3-gram Jaccard near-dup pairs (> 0.8).
    "l5_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy(col("da"), col("db"))
    }),

    // MinHash-LSH candidate pairs (8 hashes, bands of 2).
    "l6_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashLshPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, numHashes = 8, rowsPerBand = 2)
        .orderBy(col("da"), col("db"))
    }),

    // Production dedup composition: LSH candidates → exact verification.
    "l16_dedup_lsh_verified" -> ((s, dir) => {
      Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, numHashes = 8, rowsPerBand = 2,
          threshold = 0.8)
        .orderBy(col("da"), col("db"))
    }),

    // Dedup GROUPS: near-dup pairs (LSH-verified) collapsed into
    // connected components; every member labeled with its canonical
    // representative (min doc id). The pairs→clusters step of every
    // production dedup pipeline.
    "l17_dedup_groups" -> ((s, dir) => {
      val pairs = Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", shingleN = 3, numHashes = 8, rowsPerBand = 2,
        threshold = 0.8)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy(col("doc_id"))
    }),

    // 32-bit SimHash fingerprints.
    "l7_simhash" -> ((s, dir) => {
      Dedup.simhash32(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Deterministic dataset splitting: md5-range assignment gives every
    // engine (and every rerun, at any parallelism) the same train/val/
    // test membership — `sample()` is engine/partitioning-dependent and
    // can't be used for reproducible holdout splits.
    "l15_data_split" -> ((s, dir) => {
      val bucket = substring(md5(concat(lit("split42|"), col("doc_id").cast("string"))), 1, 2)
      Tables.load(s, dir, "documents")
        .withColumn("split",
          when(bucket < "cc", "train")        // 0x00-0xcb ≈ 80%
            .when(bucket < "e6", "val")       // 0xcc-0xe5 ≈ 10%
            .otherwise("test"))               // 0xe6-0xff ≈ 10%
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("split"))
    }),

    // Deterministic stratified sampling: downsample the over-represented
    // language (en → 30%), keep the rest — membership is a pure function
    // of (salt, doc_id), so any engine/parallelism/rerun keeps the same
    // rows (df.sample() keeps different ones per layout).
    "l23_stratified_sample" -> ((s, dir) => {
      graft.operators.Sampling.stratified(
          Tables.load(s, dir, "documents"), "lang", "doc_id",
          rates = Map("en" -> 0.3), salt = "curate42")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"))
    }),

    // Corpus vocabulary: term + document frequency, top 20 by tf
    // (tokenizer-stats step — the shape behind BPE corpus prep and
    // stopword discovery). One explode + one shuffle on the token;
    // tf/df are both exact ints from a single aggregate.
    "l32_vocab_topk" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token"))
        .limit(20)
    }),

    // int8 embedding quantization: symmetric per-vector codes (4× the
    // corpus per shuffle byte) with an exact integer checksum and
    // per-vector error/cosine quality columns — all map-side.
    "l31_embed_quantize" -> ((s, dir) => {
      graft.operators.Quantize.stats(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))
    }),

    // SemDedup: semantic near-dup removal over embeddings — coarse
    // clusters via the deterministic quantizer, within-cluster cosine
    // vs every lower-id mate, drop at >= 0.3 (synthetic embeddings are
    // near-orthogonal; real corpora run ~0.95+).
    "l30_semdedup" -> ((s, dir) => {
      graft.operators.Similarity.semDedup(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          nCentroids = 16, threshold = 0.3)
        .orderBy(col("vec_id"))
    }),

    // Domain-mix resampling: the corpus re-weighted to a target language
    // mix (40% en, 15% each otherwise), downsample-only with rates
    // derived from actual counts — the data-mixing step before training.
    "l29_domain_mix" -> ((s, dir) => {
      graft.operators.Sampling.toTargetMix(
          Tables.load(s, dir, "documents"), "lang", "doc_id",
          targets = Map("en" -> 0.4, "de" -> 0.15, "fr" -> 0.15,
            "es" -> 0.15, "zh" -> 0.15),
          salt = "mix7")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"))
    }),

    // Sequence packing: documents concatenated into 256-token training
    // sequences, greedy reset-on-overflow per md5-bucket (8 parallel
    // streams — the dataloader-prep step of every LLM pipeline).
    "l24_seq_packing" -> ((s, dir) => {
      graft.operators.Packing.packSequences(s,
          Tables.load(s, dir, "documents"), "doc_id", "text",
          tokenBudget = 256, nBuckets = 8)
        .orderBy(col("doc_id"))
    }),

    // Context-window chunking: long documents split into 32-token
    // chunks (map-only explode — no shuffle), the other half of the
    // dataloader-prep pair with l24.
    "l25_token_chunks" -> ((s, dir) => {
      graft.operators.Packing.chunkTokens(
          Tables.load(s, dir, "documents"), "doc_id", "text", chunkSize = 32)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Text cleaning / PII redaction: URL stripping, email redaction,
    // whitespace normalization — hash-verified per doc so the Spark and
    // DuckDB regex engines must agree byte-for-byte on the cleaned text.
    "l26_text_clean" -> ((s, dir) => {
      val cleaned = TextFunctions.cleanText(col("text"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          regexp_count(col("text"), lit(TextFunctions.urlPattern)).cast("int").as("n_urls"),
          regexp_count(col("text"), lit(TextFunctions.emailPattern)).cast("int").as("n_emails"),
          length(cleaned).cast("int").as("n_chars_clean"),
          md5(cleaned).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Typed PII scrub (emails → <EMAIL>, IPv4 → <IP>, phones →
    // <PHONE>) with per-stage counts — the audit a curation pipeline
    // reports per domain before release. The synthetic corpus carries
    // no PII at all (verified: zero matches for any pattern), so a
    // query over raw `text` would grade on all-zeros and prove
    // nothing; instead both engines deterministically INJECT
    // doc_id-derived PII into each document and the redaction is
    // hash-graded on the result — every regex provably fires on every
    // row. Counts are taken on the text as it ENTERS each stage
    // (email on dirty, IP after email, phone after IP), i.e. exactly
    // what that stage redacted.
    "l68_pii_redact" -> ((s, dir) => {
      import TextFunctions._
      val id = col("doc_id").cast("string")
      val dirty = concat(col("text"),
        lit(" Contact user"), id, lit("@mail"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.com or call +1 (415) 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"),
        lit("."), ((col("doc_id") * 13) % 256).cast("string"), lit(" done."))
      Tables.load(s, dir, "documents")
        .withColumn("dirty", dirty)
        .withColumn("no_email", redactEmails(col("dirty")))
        .withColumn("no_ip", redactIps(col("no_email")))
        .select(col("doc_id"),
          regexp_count(col("dirty"), lit(emailPattern)).cast("long").as("n_emails"),
          regexp_count(col("no_email"), lit(ipv4Pattern)).cast("long").as("n_ips"),
          regexp_count(col("no_ip"), lit(phonePattern)).cast("long").as("n_phones"),
          md5(redactPhones(col("no_ip"))).as("redacted_h"))
        .orderBy(col("doc_id"))
    }),

    // Repetition ratio (Gopher-style quality filter): the fraction of
    // 2-gram occurrences that are repeats of an earlier 2-gram in the
    // same doc — boilerplate and degenerate generations score high.
    // Shuffle on (doc, shingle) like the dedup family; counts are a
    // two-phase aggregate.
    "l27_repetition" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          explode(TextFunctions.gramArray(col("text"), 2)).as("s"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_2grams"),
          countDistinct(col("s")).as("n_distinct"))
        .select(col("doc_id"), col("n_2grams"), col("n_distinct"),
          // raw IEEE division of exact ints: bit-identical across
          // engines (rounding would reintroduce HALF_UP/HALF_EVEN skew)
          (lit(1.0) - col("n_distinct").cast("double") / col("n_2grams"))
            .as("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: train docs scored by shared word
    // 3-grams with the eval slice (doc_id % 50 == 0 stands in for a
    // held-out benchmark). The eval shingle set broadcasts at real
    // scale; the check is one equi-join on the n-gram, never doc×doc.
    "l28_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Decontaminate.overlapStats(
          train = docs.filter(col("doc_id") % 50 =!= 0),
          eval = docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3, flagFrac = 0.5)
        .orderBy(col("doc_id"))
    }),

    // Polynomial rolling-hash fingerprints (incremental-update capable).
    "l14_rolling_hash" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("rhash"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup pairs via byte-band LSH + exact hamming filter.
    "l13_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
          maxHamming = 1)
        .orderBy(col("da"), col("db"))
    }),

    // Embedding near-dup pairs: cosine > 0.4.
    "l8_embed_pairs" -> ((s, dir) => {
      Similarity.cosinePairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("da"), col("db"))
    }),

    // Brute-force cosine top-3 for query vectors vec_id < 10.
    "l9_ann_topk" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.cosineTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 3)
        .orderBy(col("qid"), col("rk"))
    }),

    // IVF ANN — the bucketed scale path as a VERIFIED query (not just a
    // spec): deterministic coarse quantizer (16 lowest-id centroids),
    // every vector assigned to its nearest list, queries probe the 4
    // nearest lists, scoring only bucket-mates. Assignment cosines are
    // rounded to 6 d.p. before the argmax so the bucketing itself is
    // engine-reproducible.
    "l18_ann_ivf" -> ((s, dir) => {
      Similarity.ivfTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          nCentroids = 16, nProbe = 4, k = 3)
        .filter(col("qid") < 20)
        .orderBy(col("qid"), col("rk"))
    }),

    // LSH ANN — the second bucketed scale path, also VERIFIED: random-
    // hyperplane signatures (md5-derived planes, no RNG) bucket the
    // corpus; scoring touches bucket-mates only. Bits come from
    // 6-d.p.-rounded projections, so the bucketing is reproducible in
    // any engine.
    "l20_ann_lsh" -> ((s, dir) => {
      Similarity.lshTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, nPlanes = 8, k = 3)
        .filter(col("qid") < 20)
        .orderBy(col("qid"), col("rk"))
    }),

    // Multi-table LSH ANN — the recall-oriented variant as a VERIFIED
    // query: 4 independent md5-salted plane sets (table 0 = exactly
    // l20's planes), candidate union deduped before scoring. The
    // recall knob every deployment turns (see DedupSimilaritySpec's
    // recall floor), still bucket equi-joins only.
    "l21_ann_lsh_multi" -> ((s, dir) => {
      Similarity.lshTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, nPlanes = 6, k = 3, nTables = 4)
        .filter(col("qid") < 20)
        .orderBy(col("qid"), col("rk"))
    }),

    // LSH-bucketed cosine near-dup pairs — the 100 TB form of l8 (which
    // broadcasts one side): bucket candidates, exact scoring, threshold
    // filter. Precision exact, recall knob-tuned (4 planes × 6 tables).
    "l22_embed_pairs_lsh" -> ((s, dir) => {
      Similarity.lshCosinePairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, nPlanes = 4, nTables = 6, threshold = 0.4)
        .orderBy(col("da"), col("db"))
    }),

    // Multimodal binary metadata plumbing (payload byte length + hash).
    "l10_mm_binary" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          md5(col("text")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end training-data filter: quality gate → language gate →
    // near-dup removal → surviving corpus. The composition every LLM
    // data pipeline runs, as one declarative plan. Dedup goes through
    // the LSH-candidates→exact-verify composition (the plan that runs
    // at 100 TB — never materializes the quadratic pair space).
    "l12_data_pipeline" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // persisted: the regex-heavy quality/langid gate feeds BOTH the
      // dedup branch (shingles, counts, intersections) and the final
      // anti-join left side — without the cache each branch re-runs the
      // regexes over the full scan. CacheManager dedupes by canonical
      // plan, so repeated invocations share one entry.
      val filtered = docs
        .filter(TextFunctions.tokenCount(col("text")) >= 20 &&
          TextFunctions.punctCount(col("text")).cast("double") / length(col("text")) < lit(0.1) &&
          TextFunctions.langId(col("text")) === "en")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dupVictims = Dedup.lshVerifiedPairs(filtered, "doc_id", "text",
          shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
        .select(col("db").as("doc_id")).distinct()
      filtered.join(dupVictims, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Multimodal decode + frame sampling end-to-end: binary payload →
    // partition-parallel (stub) decode → every-2nd-frame sampler →
    // per-doc sample stats joined back to decode metadata. The decode
    // is a deterministic byte-derived fake (no media libs in env), so
    // the WHOLE plumbing chain — binary column, mapPartitions decode,
    // typed meta, frame explosion, agg — is oracle-checkable.
    "l19_mm_frames" -> ((s, dir) => {
      val bin = graft.operators.Multimodal.asBinary(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val meta = graft.operators.Multimodal.decodeMeta(s, bin)
      val frames = graft.operators.Multimodal.sampleFrames(s, meta, everyK = 2)
      frames.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sampled"), max(col("frame_idx")).as("last_frame"))
        .join(meta.toDF().select(col("doc_id"), col("format"), col("frames")), "doc_id")
        .select(col("doc_id"), col("format"), col("frames"),
          col("n_sampled"), col("last_frame"))
        .orderBy(col("doc_id"))
    }),

    // Cross-modal join: documents enriched with their embedding's norm
    // and label (text + vector modality in one row — the shape of a
    // multimodal training record).
    "l11_multimodal_join" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
          round(graft.operators.Similarity.norm2(col("embedding")), 6).as("norm2"))
        .orderBy(col("doc_id"))
    }),

    // BM25 retrieval scoring: top-50 documents for a term query — the
    // query-based corpus-subset-selection step (targeted evals, RAG
    // corpus curation). Shuffles carry only matching (doc, term) rows;
    // df and corpus stats broadcast back.
    "l33_bm25" -> ((s, dir) => {
      graft.operators.Ranking.bm25(Tables.load(s, dir, "documents"),
          "doc_id", "text", terms = Seq("spark", "query", "window"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(50)
    }),

    // Exact substring dedup at chunk granularity (Lee et al. 2022
    // shape): 16-token chunks, first (doc, idx) occurrence of each
    // chunk hash kept; per-doc retention stats. Catches duplicated
    // SPANS whole-document near-dup misses.
    "l34_chunk_dedup" -> ((s, dir) => {
      Dedup.chunkExactDedup(Tables.load(s, dir, "documents"),
          "doc_id", "text", chunkSize = 16)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("kept").cast("long")).as("n_kept"),
          sum(when(col("kept"), col("n_tokens")).otherwise(lit(0)).cast("long"))
            .as("tokens_kept"))
        .orderBy(col("doc_id"))
    }),

    // Linear quality classifier with sigmoid link (fastText-shaped
    // scoring, fixed stand-in weights) — one codegen'd map-side pass.
    "l35_quality_score" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("q_score"))
        .withColumn("keep", col("q_score") >= 0.5)
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup: a NEW batch (doc_id % 10 >= 8) LSH-checked
    // against the SEEN corpus only — new×seen band joins, never
    // new×new/seen×seen. The rolling-crawl ingest shape.
    "l36_incr_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val newBatch = docs.filter(col("doc_id") % 10 >= 8)
      val seen = docs.filter(col("doc_id") % 10 < 8)
      val pairs = Dedup.incrementalLshPairs(newBatch, seen, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2)
      newBatch.select(col("doc_id"))
        .join(pairs.groupBy(col("new_id"))
            .agg(min(col("seen_id")).as("first_match"),
              count(lit(1)).as("n_matches")),
          col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"), col("first_match"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("first_match").isNotNull.as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // BPE first-merge statistics: adjacent character-pair counts over
    // all tokens, top 20 — the inner loop of byte-pair-encoding
    // tokenizer training as one explode + one shuffle.
    "l37_bpe_pairs" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("t"))
        .filter(length(col("t")) >= 2)
        .select(col("t"),
          explode(sequence(lit(1), length(col("t")) - 1)).as("i"))
        .select(expr("substr(t, i, 2)").as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // Per-dimension embedding statistics — the drift/normalization
    // audit every embedding corpus needs (|dim| output rows at any
    // corpus size).
    "l38_embed_dim_stats" -> ((s, dir) => {
      graft.operators.Similarity.dimStats(
          Tables.load(s, dir, "embeddings"), "embedding")
        .orderBy(col("dim"))
    }),

    // Mean-pooled embeddings per label (chunk→document pooling /
    // per-class prototypes): per-dimension DECIMAL sums make the pooled
    // vectors layout-invariant; output unrolled to (label, d, m) rows
    // so the oracle verifies every component.
    "l39_mean_pool" -> ((s, dir) => {
      graft.operators.Similarity.meanPool(
          Tables.load(s, dir, "embeddings"), "label", "embedding")
        .select(col("grp").as("label"), col("n_vecs"),
          posexplode(col("centroid")).as(Seq("d", "m")))
        .orderBy(col("label"), col("d"))
    }),

    // The decontamination FILTERING form — what a pipeline actually
    // writes out: train rows whose benchmark overlap stays below the
    // threshold, metadata intact.
    "l40_decontaminate_filter" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Decontaminate.decontaminate(
          train = docs.filter(col("doc_id") % 50 =!= 0),
          eval = docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3, maxFrac = 0.5)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Quality-based selection per domain: the best 10 documents per
    // language by classifier score — the "keep the best N per stratum"
    // curation step (a per-group top-k: one window shuffle on the
    // stratum; at scale a pre-aggregated per-partition top-k feeds the
    // same window with AQE handling stratum skew).
    "l41_quality_topk_domain" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("q_score").desc, col("doc_id"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text")).as("q_score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .orderBy(col("lang"), col("rk"))
    }),

    // Unigram-LM cross-entropy scoring (CCNet-style perplexity
    // quality filter): train an add-one-smoothed unigram LM on the
    // corpus itself, score every document's mean -ln p(token).
    "l42_lm_xentropy" -> ((s, dir) => {
      graft.operators.LanguageModel
        .selfCrossEntropy(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC canonicalization (native codegen'd expression) ahead
    // of fingerprinting — composed/decomposed encodings of the same
    // text must hash identically before any dedup. Verified via the
    // post-normalization fingerprint (DuckDB nfc_normalize = same
    // UAX #15 transform); the unicode-specific cases live in
    // NormalizeSpec (the test corpus is ASCII).
    "l43_text_nfc" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          md5(graft.functions.NormalizeFunctions.nfcNormalize(col("text"))).as("h"),
          length(graft.functions.NormalizeFunctions.nfcNormalize(col("text")))
            .as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Cluster retention policy: LSH-verified near-dup groups (same
    // pipeline as l17) keep their highest-QUALITY member rather than
    // the lowest id — the production "keep the best copy" rule.
    "l44_dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.lshVerifiedPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
      Dedup.keepBestPerGroup(docs, pairs, "doc_id",
        TextFunctions.qualityScore(col("text")))
        .orderBy(col("doc_id"))
    }),

    // kNN label propagation, leave-one-out form: every labeled vector
    // predicted by the majority label of its LSH top-5 neighbors (the
    // classifier-based-filter primitive; same multi-table LSH recall
    // path as l21). correct=1 rows / total = held-out accuracy.
    "l45_knn_classify" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val nb = Similarity.lshTopK(emb, "vec_id", "embedding",
        dim = 64, nPlanes = 6, k = 5, nTables = 4)
      graft.operators.Classify.knnSelfEval(nb,
          emb.select(col("vec_id"), col("label")), "vec_id", "label", 5)
        .orderBy(col("vec_id"))
    }),

    // Contrastive triplet mining: nearest same-label positive +
    // hardest different-label negative per anchor over an LSH top-20
    // neighborhood; negative margins double as a label-noise audit.
    "l46_triplet_mine" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val nb = Similarity.lshTopK(emb, "vec_id", "embedding",
        dim = 64, nPlanes = 6, k = 20, nTables = 4)
      graft.operators.Classify.tripletMine(nb,
          emb.select(col("vec_id"), col("label")), "vec_id", "label")
        .orderBy(col("vec_id"))
    }),

    // Bloom-prefiltered decontamination: Catalyst's own bloom agg/probe
    // pair (the runtime-join-filter expressions) culls the train shingle
    // stream map-side before the exact join; survivors verify exactly,
    // so the result is bit-identical to the exact path and the oracle IS
    // the exact overlap SQL.
    "l47_bloom_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Decontaminate.bloomOverlapStats(
          train = docs.filter(col("doc_id") % 40 =!= 0),
          eval = docs.filter(col("doc_id") % 40 === 0),
          "doc_id", "text", n = 3, flagFrac = 0.3,
          expectedEvalShingles = 1L << 16)
        .orderBy(col("doc_id"))
    }),

    // Line-level boilerplate dedup (CCNet pass). The synthetic docs are
    // single-line, so the corpus is built in-query with deterministic
    // structure both engines reproduce exactly: a shared nav header on
    // every doc, a promo line on every 7th, and a unique trailer — the
    // shared lines must vanish (df > 3), the unique ones must survive.
    "l48_line_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val corpus = docs.select(col("doc_id"),
        concat(lit("NAV MENU HOME ABOUT\n"), col("text"), lit("\n"),
          when(col("doc_id") % 7 === 0, lit("SUBSCRIBE NOW\n")).otherwise(lit("")),
          lit("doc-"), col("doc_id").cast("string")).as("text"))
      Dedup.dedupLines(corpus, "doc_id", "text", maxDocs = 3)
        .select(col("doc_id"), col("n_lines").cast("long").as("n_lines"),
          col("n_kept"), md5(col("text_clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Cross-split leakage audit: verified near-dup pairs classified by
    // the (deterministic l15) split of each endpoint — any off-diagonal
    // row is eval contamination a near-dup-aware splitter must prevent.
    "l49_split_leakage" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bucket = substring(
        md5(concat(lit("split42|"), col("doc_id").cast("string"))), 1, 2)
      val splits = docs.select(col("doc_id"),
        when(bucket < "cc", "train").when(bucket < "e6", "val")
          .otherwise("test").as("split"))
      val pairs = Dedup.lshVerifiedPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
      graft.operators.Audit.splitLeakage(pairs, splits, "doc_id")
        .orderBy(col("split_lo"), col("split_hi"))
    }),

    // Per-source corpus datasheet ("corpus card"): the publication row a
    // curation run emits per source — counts, sizes, short-doc and
    // exact-dup tallies, detected-language composition.
    "l50_corpus_card" -> ((s, dir) => {
      graft.operators.Audit.corpusCard(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", TextFunctions.langId(col("text")))
        .orderBy(col("source"))
    }),

    // LSH recall report: the production dedup path (l16) measured
    // in-engine against the exact n-gram Jaccard ground truth (l5) at
    // the same threshold. Verified pairs are a SUBSET of exact pairs by
    // construction (same jaccard > t filter), so precision is 1 and the
    // single number that matters is recall — the artifact a pipeline
    // publishes to justify its band/hash configuration.
    "l52_lsh_recall" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8).select(col("da"), col("db"))
      val lsh = Dedup.lshVerifiedPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
        .select(col("da"), col("db"), lit(1).as("hit"))
      exact.join(lsh, Seq("da", "db"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_lsh"))
        .select(col("n_exact"), col("n_lsh"),
          (col("n_lsh").cast("double") / col("n_exact")).as("recall"))
    }),

    // Product quantization codes: each vector as m=4 one-byte codes
    // against per-subspace prefix codebooks — the IVF-PQ memory layout
    // (m bytes/vector vs dim×4). Assignment is squared-L2 argmin per
    // subspace, ties on lower centroid id.
    "l53_pq_codes" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cb = graft.operators.Quantize.pqCodebooks(
        emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
      graft.operators.Quantize.pqEncode(emb, cb, "vec_id", "embedding", dim = 64, m = 4)
        .orderBy(col("vec_id"), col("sub"))
    }),

    // PQ asymmetric-distance search: one probe vector against the coded
    // corpus via the k×m lookup table — each corpus vector costs m
    // integer lookups + an exact integer-micro sum, never a float
    // vector op. The 100 TB ANN serving shape.
    "l54_pq_adc" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cb = graft.operators.Quantize.pqCodebooks(
        emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
      val codes = graft.operators.Quantize.pqEncode(
        emb, cb, "vec_id", "embedding", dim = 64, m = 4)
      val probe = emb.filter(col("vec_id") === 0)
      graft.operators.Quantize.pqAdcTopK(codes, cb, probe,
        "vec_id", "embedding", dim = 64, m = 4, topK = 10)
    }),

    // IVF-PQ: the full billion-vector serving stack — the coarse
    // quantizer routes the probe to nProbe inverted lists, and ADC
    // scores ONLY those lists' codes against the k×m lookup table.
    // Scan cost = nProbe/nCentroids of the corpus, each touched vector
    // costing m byte-lookups; no float vector leaves the codebooks.
    "l55_ivf_pq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val lists = Similarity.ivfLists(emb, "vec_id", "embedding", nCentroids = 16)
      val probeB = Similarity.ivfProbeLists(emb, "vec_id", "embedding",
        nCentroids = 16, nProbe = 4, probeId = 0)
      val cand = lists.join(broadcast(probeB), Seq("bucket")).select(col("vec_id"))
      val cb = graft.operators.Quantize.pqCodebooks(
        emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
      val codes = graft.operators.Quantize.pqEncode(
          emb, cb, "vec_id", "embedding", dim = 64, m = 4)
        .join(cand, Seq("vec_id"), "left_semi")
      val probe = emb.filter(col("vec_id") === 0)
      graft.operators.Quantize.pqAdcTopK(codes, cb, probe,
        "vec_id", "embedding", dim = 64, m = 4, topK = 10)
    }),

    // Batch-probe ADC serving: top-5 per probe for a frame of query
    // vectors in ONE pass — the (qid, sub, code) lookup table
    // broadcasts and each corpus code row costs m lookups regardless
    // of probe count.
    "l56_pq_adc_batch" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cb = graft.operators.Quantize.pqCodebooks(
        emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
      val codes = graft.operators.Quantize.pqEncode(
        emb, cb, "vec_id", "embedding", dim = 64, m = 4)
      val probes = emb.filter(col("vec_id") < 5)
      graft.operators.Quantize.pqAdcTopKAll(codes, cb, probes,
          "vec_id", "embedding", dim = 64, m = 4, topK = 5)
        .orderBy(col("qid"), col("rk"))
    }),

    // HTML → text extraction (web-corpus ingest). The synthetic docs
    // are plain text, so the corpus is wrapped in deterministic HTML
    // in-query — style/script blocks, attributes, entities — which both
    // engines construct identically; the md5 of the extracted text
    // forces byte-exact agreement on the whole strip/decode pipeline.
    "l57_html_strip" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val html = concat(
        lit("<html><head><style>body{color:red}</style>" +
          "<script>var x=1;</script></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p class=\"main\">"), col("text"),
        lit("</p><div>&amp; &lt;tags&gt; &quot;quoted&quot; " +
          "&#39;q&#39;&nbsp;end</div></body></html>"))
      docs.select(col("doc_id"),
          TextFunctions.stripHtml(html).as("clean"))
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          length(col("clean")).cast("long").as("n_chars_clean"))
        .orderBy(col("doc_id"))
    }),

    // Trained quality classifier (FineWeb-Edu shape): logistic
    // regression on heuristic features fit with 10 fixed GD iterations,
    // decimal-exact gradient sums (layout-invariant weights), then the
    // corpus scored with the learned boundary. The oracle REPLAYS
    // training: an unrolled 10-step CTE chain carrying the weight
    // vector, generated mechanically (see logRegOracle).
    "l58_logreg_quality" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .filter(length(col("text")) > 0 &&
          TextFunctions.tokenCount(col("text")) > 0)
      val feats = docs.select(
        (TextFunctions.stopwordCount(col("text")).cast("double") /
          TextFunctions.tokenCount(col("text"))).as("x1"),
        (TextFunctions.punctCount(col("text")).cast("double") /
          length(col("text"))).as("x2"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w = graft.operators.Classify.trainLogReg(
        feats, Seq("x1", "x2"), "y", iters = 10, lr = 1.0)
      val pred = graft.operators.Classify.predictLogReg(Seq("x1", "x2"), w)
      val Row2 = feats.agg(
        sum((pred === (col("y") === 1.0)).cast("long")).as("n_correct"),
        count(lit(1)).as("n_rows")).head()
      Seq((w(0), w(1), w(2), Row2.getLong(0), Row2.getLong(1)))
        .toDF("w_stop", "w_punct", "w_bias", "n_correct", "n_rows")
    }),

    // The trained classifier APPLIED: per-document keep/drop decisions
    // from the l58 model — the FineWeb-Edu loop closed (train on
    // features, score the corpus map-side). Training reruns here so
    // the query is self-contained; a pipeline would load saved weights.
    "l59_classifier_filter" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .filter(length(col("text")) > 0 &&
          TextFunctions.tokenCount(col("text")) > 0)
      val feats = docs.select(col("doc_id"),
        (TextFunctions.stopwordCount(col("text")).cast("double") /
          TextFunctions.tokenCount(col("text"))).as("x1"),
        (TextFunctions.punctCount(col("text")).cast("double") /
          length(col("text"))).as("x2"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w = graft.operators.Classify.trainLogReg(
        feats, Seq("x1", "x2"), "y", iters = 10, lr = 1.0)
      feats.select(col("doc_id"),
          graft.operators.Classify.predictLogReg(Seq("x1", "x2"), w).as("keep"),
          (col("y") === 1.0).as("label_en"))
        .orderBy(col("doc_id"))
    }),

    // Curriculum difficulty binning: fixed-width score bins (NOT a
    // global ntile — a single-partition window is the 100 TB
    // anti-pattern; width-0.1 bins are map-side and layout-invariant,
    // and a curriculum sampler composes them with l23's rate machinery).
    "l51_difficulty_bins" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("q"))
        .withColumn("bin", least(lit(9L), floor(col("q") * 10).cast("long")))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("q")).as("q_min"), max(col("q")).as("q_max"))
        .orderBy(col("bin"))
    }),

    // The l36 shape run FOR REAL as a streaming ingest loop: four
    // crawl drops (doc_id % 4) land one at a time; each drives an
    // AvailableNow foreachBatch run that LSH-checks the drop against
    // the PERSISTED band store of every earlier drop and then appends
    // its own bands — checkpoint-resumed across runs, history never
    // re-shingled. The oracle replays the same cross-batch band join
    // relationally, so the streaming loop's accumulated verdicts are
    // hash-graded end to end.
    "l61_stream_incr_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.Scratch.dir("graft_incr")
      runDrops(s, docs, root, docDrops(docs))(src => graft.streaming.IncrementalDedup
        .run(src, crawlCfg(), s"$root/bands", s"$root/out", s"$root/ckpt"))
      graft.streaming.IncrementalDedup.results(s, s"$root/out")
        .select(col("doc_id"), col("ingest_batch").cast("long").as("ingest_batch"),
          col("first_match"), col("n_matches"), col("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // l61's crawl loop on the LITE verdict path (`exactCounts=false`,
    // `Dedup.incrementalLshFirstMatchFromBands`) — the formulation a
    // 100 TB crawl must run: the seen side collapses to one row per
    // (band, bsig) bucket before the probe join, so per-drop cost stays
    // flat as dup groups grow (the exact path's candidate-pair count is
    // quadratic in group size — see README §scale). The claim
    // this query grades: `first_match`/`is_dup` are BIT-IDENTICAL to
    // the exact path's (the globally-minimal seen bucket-mate lives in
    // some shared bucket), so the oracle is l61's verbatim minus the
    // n_matches column the lite path deliberately never pays for.
    "l80_stream_dedup_lite" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.Scratch.dir("graft_incr_lite")
      runDrops(s, docs, root, docDrops(docs))(src => graft.streaming.IncrementalDedup
        .run(src, crawlCfg(exactCounts = false), s"$root/bands", s"$root/out", s"$root/ckpt"))
      graft.streaming.IncrementalDedup.results(s, s"$root/out")
        .select(col("doc_id"), col("ingest_batch").cast("long").as("ingest_batch"),
          col("first_match"), col("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // The COMPOSITION the ingest loop exists for: after l61's 4-drop
    // run, cross-batch transitive dup GROUPS and retention over the
    // union corpus. Candidates come from a (band, bsig) self-join over
    // the PERSISTED band store (including same-batch pairs the
    // per-batch verdicts never probe), exact verification re-shingles
    // ONLY candidate docs, then star-CC + keep-best. Because the
    // accumulated store IS the full corpus band frame, the result must
    // equal l44's batch recompute bit-for-bit — graded against l44's
    // oracle verbatim.
    "l66_stream_dup_groups" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.Scratch.dir("graft_incr_g")
      // compactEvery = 2: batch 2's turn folds band partitions {0, 1}
      // in-loop, so the self-managed compaction path (stage → manifest
      // → swap, plus its recovery) runs INSIDE an oracle-graded query —
      // the fold is loss-free by contract, so the result must still
      // equal l44's batch recompute bit-for-bit
      runDrops(s, docs, root, docDrops(docs))(src => graft.streaming.IncrementalDedup
        .run(src, crawlCfg(), s"$root/bands", s"$root/out", s"$root/ckpt", compactEvery = 2))
      val cand = graft.streaming.IncrementalDedup
        .storedCandidatePairs(s, s"$root/bands", "doc_id")
      val pairs = Dedup.verifyCandidatePairs(docs, cand, "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      Dedup.keepBestPerGroup(docs, pairs, "doc_id",
          TextFunctions.qualityScore(col("text")))
        .orderBy(col("doc_id"))
    }),

    // l55's IVF-PQ search SERVED FROM A PERSISTED INDEX: codebooks,
    // codes, coarse centroids and inverted lists are built once and
    // written to parquet (the per-ingest-cycle artifact), then the
    // query runs entirely off the loaded frames — its plan's only
    // corpus access is fetching the probe vector. Hash-graded against
    // l55's recompute oracle, proving serve-from-disk is bit-identical
    // to rebuild-per-query.
    "l62_ann_index_serve" -> ((s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annix")
      AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, dir = root)
      val ix = AnnIndex.load(s, root)
      val probe = emb.filter(col("vec_id") === 0)
      AnnIndex.serveIvfPq(ix, probe, "vec_id", "embedding",
        dim = 64, m = 4, nProbe = 4, topK = 10)
    }),

    // l52's recall audit made corpus-scale runnable: the exact-Jaccard
    // denominator is quadratic, so it runs on a DETERMINISTIC document
    // sample (the md5-coin — any engine/layout/rerun keeps the same
    // docs) and reports the estimate with its 95% normal half-width.
    // Restriction doesn't bias the per-pair verdict: a pair's LSH
    // outcome depends only on its own two signatures. Quadratic cost
    // shrinks by rate²; rate is the knob that keeps the audit runnable
    // at any corpus size.
    "l63_lsh_recall_sampled" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val sampled = graft.operators.Sampling.sample(docs, "doc_id", 0.5, "recall62")
      val exact = Dedup.ngramJaccardPairs(sampled, "doc_id", "text",
        n = 3, threshold = 0.8).select(col("da"), col("db"))
      val lsh = Dedup.lshVerifiedPairs(sampled, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
        .select(col("da"), col("db"), lit(1).as("hit"))
      // identical expression trees on both engines: p once per column,
      // (p*(1-p))/n under the sqrt, 6-d.p. rounds
      def p = col("n_lsh").cast("double") / col("n_exact")
      exact.join(lsh, Seq("da", "db"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_lsh"))
        .select(col("n_exact"), col("n_lsh"),
          when(col("n_exact") === 0, lit(null).cast("double"))
            .otherwise(round(p, 6)).as("recall_est"),
          when(col("n_exact") === 0, lit(null).cast("double"))
            .otherwise(round(lit(1.96) *
              sqrt(p * (lit(1.0) - p) / col("n_exact").cast("double")), 6))
            .as("recall_err95"))
    }),

    // Batch IVF-PQ serving from the persisted index — the production
    // request shape: five probes, each routed to ITS OWN nProbe lists
    // via the persisted centroids, ADC restricted per probe to its
    // candidate pairs, top-5 per probe in one pass.
    "l64_ivf_pq_batch" -> ((s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annix_b")
      AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, dir = root)
      val ix = AnnIndex.load(s, root)
      val probes = emb.filter(col("vec_id") < 5)
      AnnIndex.serveIvfPqBatch(ix, probes, "vec_id", "embedding",
          dim = 64, m = 4, nProbe = 4, topK = 5)
        .orderBy(col("qid"), col("rk"))
    }),

    // Quantizer DRIFT AUDIT — the retrain trigger of the append cycle:
    // l62 keeps quantizers fixed between rebuilds but nothing measured
    // WHEN to retrain. A synthetic drifted ingest — every element
    // shifted +0.25f, a mean shift on the zero-centered corpus (single
    // IEEE float add; REAL arithmetic is bit-identical on both
    // engines) — is appended to the persisted index, then both ingests
    // are audited against the base build's codebooks/centroids: mean
    // PQ quantization residual (the error ADC serving commits to,
    // integer-micros arithmetic) and IVF list-occupancy skew (drift
    // piles into few lists and destroys the nProbe/nCentroids
    // scan-fraction guarantee).
    "l65_quantizer_drift" -> ((s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annix_d")
      AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, dir = root)
      val drifted = emb.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.25f)).as("embedding"))
      AnnIndex.appendVectors(s, root, drifted, "vec_id", "embedding",
        dim = 64, m = 4, ingestTag = "drift")
      val ix = AnnIndex.load(s, root)
      val tagged = emb.select(lit("base").as("ingest"), col("vec_id"), col("embedding"))
        .unionByName(drifted.select(lit("drift").as("ingest"), col("vec_id"),
          col("embedding")))
      AnnIndex.driftAudit(ix, tagged, "ingest", "vec_id", "embedding",
          dim = 64, m = 4)
        .orderBy(col("ingest"))
    }),

    // BPE tokenizer TRAINING (l37 computed only the first merge's
    // statistics): 10 actual merges learned iteratively — one
    // pair-count aggregation job per merge over the |vocab|-row
    // word-frequency frame, driver state = the merge list. The oracle
    // REPLAYS all 10 merges as a mechanical CTE chain, so the learned
    // sequence (not just one step) is hash-graded.
    "l60_bpe_train" -> ((s, dir) => {
      import s.implicits._
      val words = graft.operators.Bpe.wordFreqs(
          Tables.load(s, dir, "documents"), "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.operators.Bpe.trainMerges(words, iters = 10)
        .toDF("step", "l_sym", "r_sym", "pair_freq")
        .orderBy(col("step"))
    }),

    // Learned-tokenizer ENCODE — l60 trains the merge list; this
    // applies it to the corpus (the step that turns raw tokens into
    // learned-vocab pieces for l24/l25's packing/chunking). The merges
    // replay over the DISTINCT word vocabulary once and join back to
    // the token stream; per doc the piece sequence is hash-graded in
    // token order, so the whole train→encode composition is end-to-end
    // against the oracle's CTE replay.
    "l67_bpe_encode" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val words = graft.operators.Bpe.wordFreqs(docs, "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val merges = graft.operators.Bpe.trainMerges(words, iters = 10)
        .map { case (_, l, r, _) => (l, r) }
      graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_pieces"),
          md5(concat_ws(graft.operators.Bpe.Sep, col("pieces"))).as("pieces_h"))
        .orderBy(col("doc_id"))
    }),

    // Tokenizer fertility per language — pieces-per-word of the
    // LEARNED tokenizer (l60's merges) broken out by detected
    // language: the standard multilingual-tokenizer health metric (a
    // language with high fertility is under-served by the vocabulary
    // and will eat its context window). Composes train → encode →
    // langid; the sums are exact BIGINTs so the one double division is
    // bit-deterministic on both engines.
    "l69_token_fertility" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val words = graft.operators.Bpe.wordFreqs(docs, "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val merges = graft.operators.Bpe.trainMerges(words, iters = 10)
        .map { case (_, l, r, _) => (l, r) }
      val enc = graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_pieces"))
      docs.select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_detected"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_words"))
        .where(col("n_words") > 0)
        .join(enc, Seq("doc_id"))
        .groupBy(col("lang_detected"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"))
        .withColumn("fertility", col("n_pieces").cast("double") / col("n_words"))
        .orderBy(col("lang_detected"))
    }),

    // N-gram novelty — fraction of each document's distinct 3-shingles
    // occurring in no other document (boilerplate/syndication scores
    // near 0, original prose near 1). One doc-frequency aggregation
    // over the shared shingle frame; no pairwise work.
    "l70_ngram_novelty" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // stage the one expensive pass (tokenize→explode→distinct) and
      // share it across the two aggregations — the l60/l67 persist
      // discipline; Verify/Bench release leaked persists between runs
      val sh = graft.operators.Dedup.shingleSet(docs, "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.operators.Ranking.ngramNoveltyFromShingles(docs, sh, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Per-source token-length quartiles — the corpus-card distribution
    // stat, as exact rank-position quantiles (ceil(p*n), ties by id)
    // rather than an engine-specific percentile sketch.
    "l71_source_len_quartiles" -> ((s, dir) => {
      graft.operators.Audit.groupQuartiles(
          Tables.load(s, dir, "documents"), "source", "doc_id",
          TextFunctions.tokenCount(col("text")))
        .orderBy(col("source"))
    }),

    // Pointer-column blob store under grading — the 100 TB media
    // layout (SURVEY §7.2 step 8): payloads move to a content-addressed
    // store (one row per DISTINCT content, sha-256 identity), the
    // relational row keeps a pointer, and FOUR executable claims run
    // inside the query: (a) the store dedups — its row count equals the
    // corpus's distinct payloads; (b) every pointer resolves back and
    // the restored corpus passes the Delta losslessness gate bit for
    // bit (a dangling pointer would raise, not shrink); (c) a 3-key
    // point fetch through the `_filebloom` sidecar reads FEWER files
    // than the store holds — serving never scans; (d) the graded
    // per-source profile is computed FROM THE RESTORED corpus, so the
    // green hash row certifies the whole round trip, not the write
    // path alone. */
    "l72_blob_pointer_store" -> ((s, dir) => {
      import graft.operators.{Delta, Multimodal}
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val bin = Multimodal.asBinary(d, "doc_id", "text")
      val root = graft.Scratch.dir("graft_blob")
      val store = s"$root/store"
      val pointers = Multimodal.writeBlobStore(s, bin, store, nFiles = 8)
      val distinctPayloads = d.select(countDistinct(col("text"))).head().getLong(0)
      val storeRows = s.read.parquet(store).count()
      require(storeRows == distinctPayloads,
        s"content addressing must dedup: store holds $storeRows, corpus has $distinctPayloads distinct payloads")
      val restored = Multimodal.joinBlobs(s, store, pointers)
        .select(col("doc_id"), decode(col("content"), "UTF-8").as("text"))
      Delta.assertLossless(restored,
        d.select(col("doc_id"), col("text")), "blob-store")
      val probeKeys = pointers.orderBy(col("doc_id")).limit(3)
        .select(col("blob_key")).collect().map(_.getLong(0)).toSeq.distinct
      val scan = Multimodal.fetchBlobs(s, store, probeKeys)
      require(scan.filesRead < scan.filesTotal,
        s"blob point-fetch read ${scan.filesRead}/${scan.filesTotal} files — sidecar not pruning")
      require(scan.df.count() >= probeKeys.size, "point fetch lost blobs")
      restored.join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_blobs"),
          sum(octet_length(col("text"))).cast("long").as("sum_bytes"))
        .orderBy(col("source"))
    }),

    // SEMANTIC decontamination — the embedding-space complement of
    // l28's n-gram check: a paraphrased benchmark shares no 3-gram but
    // its embedding still neighbors the eval set's. vec_id % 17 == 0
    // stands in for the held-out benchmark; every train vector gets the
    // max cosine over the broadcast eval side (one corpus pass, guarded
    // + 6-d.p.-rounded per pair before the max, so DuckDB reproduces
    // the flag exactly). At 0.4 the data flags both ways at every SF
    // (6/470 at sf0.001 up to 99/1882 at sf0.1), so the green hash row
    // grades the positive AND negative decision, not a vacuous pass.
    "l73_semantic_decontaminate" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      graft.operators.Decontaminate.semanticOverlapStats(
          train = e.filter(col("vec_id") % 17 =!= 0),
          eval = e.filter(col("vec_id") % 17 === 0),
          "vec_id", "embedding", flagCos = 0.4)
        .orderBy(col("vec_id"))
    }),

    // The LSH S-curve tuner IN THE LOOP: (bands, rows) are not chosen
    // by hand but derived from the target Jaccard threshold — for an
    // 8-hash signature and t=0.5 the tuner must land on rows=2 (4 bands
    // of 2: threshold (1/4)^(1/2) = 0.5 exactly; rows=1 sits at 0.125,
    // rows=4 at 0.84), asserted in-query so a tuner regression fails
    // loudly. The tuned parameters then drive the production
    // composition (candidates → exact verification), and the green
    // hash row proves the tuned banding caught every true pair the
    // exact-Jaccard oracle finds — the closed loop from threshold
    // choice to verified output.
    "l74_dedup_lsh_tuned" -> ((s, dir) => {
      val rows = graft.operators.Dedup.tuneRowsPerBand(numHashes = 8, targetJaccard = 0.5)
      require(rows == 2, s"tuner must choose rows=2 for H=8, t=0.5; got $rows")
      Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, numHashes = 8, rowsPerBand = rows,
          threshold = 0.8)
        .orderBy(col("da"), col("db"))
    }),

    // Snapshot diff (CDC) between two corpus versions — the delta
    // report an incremental pipeline runs between ingest cycles. The
    // snapshots derive deterministically from the corpus (prev drops
    // doc_id % 13 == 3; cur drops % 11 == 4 and revises % 5 == 0), so
    // all three verdicts — added, removed, changed — fire at every SF.
    // Each side shrinks to an (id, xxhash64) pointer frame BEFORE the
    // full-outer join, so the documents never ride the shuffle; DuckDB
    // grades by comparing the payloads THEMSELVES, so the green row
    // also certifies the fingerprint trade (equal text ⇒ unchanged,
    // differing text ⇒ changed) on this corpus.
    "l75_snapshot_diff" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val prev = d.filter(col("doc_id") % 13 =!= 3)
        .select(col("doc_id"), col("text"))
      val cur = d.filter(col("doc_id") % 11 =!= 4)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
      graft.operators.Audit.snapshotDiff(prev, cur, "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),

    // Tombstone deletion from the PERSISTED ANN index — the
    // right-to-erasure path: no rebuild, the dead ids are masked out of
    // codes and lists at load. The delete targets the probe's three
    // nearest non-self neighbors FROM THE PRE-DELETE SERVE (derived
    // identically in the oracle), so the grade can never be vacuous:
    // the post-delete top-10 must drop exactly those ids and surface
    // the next tier, with every survivor's ADC score bit-unchanged.
    "l76_ann_tombstone" -> ((s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annts")
      AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, dir = root)
      val probe = emb.filter(col("vec_id") === 0)
      def serve() = AnnIndex.serveIvfPq(AnnIndex.load(s, root), probe,
        "vec_id", "embedding", dim = 64, m = 4, nProbe = 4, topK = 10)
      val del = serve().filter(col("vec_id") =!= 0)
        .orderBy(col("adc_dist"), col("vec_id")).limit(3)
        .select(col("vec_id"))
      AnnIndex.deleteVectors(s, root, del, "vec_id", ingestTag = "erasure_1")
      serve()
    }),

    // The deletion loop CLOSED, rebuild direction (x25's shape for
    // tombstones): a bulk erasure tombstones ~1/3 of the index; the
    // tombstone-share probe crosses the 0.2 threshold, so
    // rebuildIfTombstoned fires — tombstones purged, dead space
    // reclaimed — and the post-rebuild serve is graded against a
    // DuckDB recompute of the WHOLE IVF-PQ pipeline over the
    // post-delete corpus: the green hash row IS the "rebuild equals a
    // fresh build on the live corpus" claim. In-query requires make
    // the decision non-vacuous (share measured above threshold,
    // rebuild fired, deletion state spent).
    "l81_ann_auto_rebuild" -> ((s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annar")
      AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, dir = root)
      // bulk erasure: every third id (the probe, vec_id 0, survives)
      val del = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") =!= 0)
        .select(col("vec_id"))
      AnnIndex.deleteVectors(s, root, del, "vec_id", ingestTag = "erasure_bulk")
      val live = emb.filter(col("vec_id") % 3 =!= 0 || col("vec_id") === 0)
      val d = AnnIndex.rebuildIfTombstoned(s, root, live, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, threshold = 0.2)
      require(d.rebuilt && d.share > 0.2,
        s"l81 expects the probe to fire: share ${d.share} (${d.deadIds}/${d.totalIds})")
      require(AnnIndex.loadTombstones(s, root).isEmpty,
        "rebuild must purge the tombstone artifacts (deletion state is spent)")
      AnnIndex.serveIvfPq(AnnIndex.load(s, root),
        live.filter(col("vec_id") === 0), "vec_id", "embedding",
        dim = 64, m = 4, nProbe = 4, topK = 10)
    }),

    // The deletion loop's NEGATIVE direction (x26's shape): a 3-id
    // erasure is far below the threshold, so the probe REFUSES to
    // rebuild — masking is the right trade at this share, and the
    // index artifacts stay untouched (tombstones still standing,
    // asserted). The serve grades against l76's masked-serve oracle
    // verbatim: hold-and-mask must be value-identical to what the
    // eager path produced.
    "l82_ann_auto_hold" -> ((s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annah")
      AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, dir = root)
      val probe = emb.filter(col("vec_id") === 0)
      def serve() = AnnIndex.serveIvfPq(AnnIndex.load(s, root), probe,
        "vec_id", "embedding", dim = 64, m = 4, nProbe = 4, topK = 10)
      val del = serve().filter(col("vec_id") =!= 0)
        .orderBy(col("adc_dist"), col("vec_id")).limit(3)
        .select(col("vec_id"))
      AnnIndex.deleteVectors(s, root, del, "vec_id", ingestTag = "erasure_1")
      val d = AnnIndex.rebuildIfTombstoned(s, root, emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, threshold = 0.2)
      require(!d.rebuilt && d.share > 0 && d.share <= 0.2,
        s"l82 expects the probe to hold: share ${d.share} (${d.deadIds}/${d.totalIds})")
      require(AnnIndex.loadTombstones(s, root).exists(_.count() == 3),
        "hold must leave the standing tombstones untouched")
      serve()
    }),

    // The fragmentation loop CLOSED, fold direction (the small-files
    // twin of l81's deletion rebuild): the index is BUILT on exactly
    // the 16 training vectors, then the whole rest of the corpus
    // arrives as four append drops — the crawl-ingest lifecycle — and
    // the probe finds three fold-eligible partitions standing (k <
    // upToBatch = 3; batch_3 is the replay-protected last drop) above
    // the maxIngests = 2 ceiling, so compactIfFragmented fires and
    // folds them into one. The post-fold serve grades against l55's
    // WHOLE-CORPUS recompute oracle verbatim: quantizers trained on
    // the 16 lowest vec_ids are exactly what the oracle derives, so a
    // green hash row proves build + 4 appends + fold is bit-identical
    // to a single-shot index of everything — the append/compact
    // lifecycle is loss-free end-to-end, with appended vectors LIVE in
    // the graded top-k (the probe's neighbors come from the appends).
    "l83_ann_auto_compact" -> ((s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annacp")
      AnnIndex.buildIvfPq(emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, dir = root)
      (0 to 3).foreach { b =>
        AnnIndex.appendVectors(s, root,
          emb.filter(col("vec_id") >= 16 && col("vec_id") % 4 === b),
          "vec_id", "embedding", dim = 64, m = 4, ingestTag = s"batch_$b")
      }
      val d = AnnIndex.compactIfFragmented(s, root, maxIngests = 2, upToBatch = 3)
      require(d.compacted && d.standingBatches == 3 && d.folded == 3,
        s"l83 expects the probe to fire and fold 3 partitions: $d")
      require(AnnIndex.servableIngests(s, root) == Seq("base", "batch_2", "batch_3"),
        "fold must leave exactly base + the folded batch_2 + the excluded batch_3")
      AnnIndex.serveIvfPq(AnnIndex.load(s, root),
        emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        dim = 64, m = 4, nProbe = 4, topK = 10)
    }),

    // The fragmentation loop's NEGATIVE direction (x26's shape): the
    // same build-plus-four-drops index, but the ceiling is 8 — three
    // standing fold-eligible partitions don't justify rewriting the
    // appended history, so the probe REFUSES to fold and every ingest
    // partition stays physically untouched (asserted). The serve
    // grades against the same whole-corpus oracle: hold must be
    // value-identical to fold, so the two rows differ ONLY in the
    // asserted decision and the physical layout it preserved.
    "l84_ann_compact_hold" -> ((s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annach")
      AnnIndex.buildIvfPq(emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, dir = root)
      (0 to 3).foreach { b =>
        AnnIndex.appendVectors(s, root,
          emb.filter(col("vec_id") >= 16 && col("vec_id") % 4 === b),
          "vec_id", "embedding", dim = 64, m = 4, ingestTag = s"batch_$b")
      }
      val d = AnnIndex.compactIfFragmented(s, root, maxIngests = 8, upToBatch = 3)
      require(!d.compacted && d.standingBatches == 3 && d.folded == 0,
        s"l84 expects the probe to hold at 3 standing <= ceiling 8: $d")
      require(AnnIndex.servableIngests(s, root) ==
          Seq("base", "batch_0", "batch_1", "batch_2", "batch_3"),
        "hold must leave every ingest partition untouched")
      AnnIndex.serveIvfPq(AnnIndex.load(s, root),
        emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        dim = 64, m = 4, nProbe = 4, topK = 10)
    }),

    // Winnowing span detection (Schleimer et al., the MOSS algorithm):
    // the exact-substring complement of the shingle/minhash set family
    // — any shared token run of length >= k + w - 1 (here 8) lands at
    // least one identical fingerprint in both docs, while each doc
    // stores only ~1/w of its gram hashes. Pairs sharing >= 2
    // fingerprints, graded against a DuckDB replay of the identical
    // pipeline (same md5-derived 40-bit hash, same full-window min,
    // same distinct). At 100 TB the fingerprint index is the O(n/w)
    // artifact that makes cross-corpus span search tractable at all.
    "l85_winnow_pairs" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.winnowedSpanPairs(docs, "doc_id", "text",
          k = 5, w = 4, minShared = 2)
        .orderBy(col("da"), col("db"))
    }),

    // Hot-bucket df-cap, FIRE direction: a third of the corpus gets a
    // shared boilerplate suffix (a 10-token license line — one
    // guaranteed common fingerprint per doc, df ≈ n/3 vs natural max 4)
    // and the measured cap drops every bucket with df > 8 BEFORE the
    // pair self-join — the MOSS "too common" move, without which that
    // one bucket's join is quadratic in n/3 at crawl scale. In-query
    // requires pin the decision; the oracle replays the identical
    // pipeline WITH the df cap in SQL, so the green hash row proves
    // the capped pair set, not just that something was dropped.
    "l86_winnow_hot_cap" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" standard license header text " +
              "appended by the crawler pipeline every run")))
            .otherwise(col("text")).as("text"))
      val (pairs, d) = Dedup.winnowedSpanPairsCapped(docs, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 8)
      require(d.capped && d.dropped >= 1 && d.hottestDf > 8,
        s"l86 expects the injected boilerplate to FIRE the cap: $d")
      pairs.orderBy(col("da"), col("db"))
    }),

    // Hot-bucket df-cap, HOLD direction: the natural corpus's hottest
    // fingerprint (df <= 4 at every shipped SF) stays below the same
    // ceiling, the prune is a no-op by construction (no anti-join
    // stage is even planned), and the output is bit-identical to
    // l85's uncapped pairs — graded against l85's oracle verbatim.
    "l87_winnow_cap_hold" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val (pairs, d) = Dedup.winnowedSpanPairsCapped(docs, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 8)
      require(!d.capped && d.dropped == 0 && d.hottestDf <= 8,
        s"l87 expects the natural corpus to HOLD below the cap: $d")
      pairs.orderBy(col("da"), col("db"))
    }),

    // The hot-bucket cap on the OTHER pair generator — ngram Jaccard,
    // both directions. FIRE: the injected license suffix puts ~n/3
    // documents into each of its shingle buckets (df far above the
    // natural max of 25); the cap erases those shingles from the
    // UNIVERSE (intersection evidence AND set sizes — boilerplate
    // carries no similarity signal), and the oracle replays the same
    // erasure. Without the cap each hot bucket's self-join is
    // quadratic in n/3.
    "l89_jaccard_hot_cap" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" standard license header text " +
              "appended by the crawler pipeline every run")))
            .otherwise(col("text")).as("text"))
      val (pairs, d) = Dedup.ngramJaccardPairsCapped(docs, "doc_id", "text",
        n = 3, threshold = 0.8, maxDf = 50)
      require(d.capped && d.dropped >= 1 && d.hottestDf > 50,
        s"l89 expects the injected boilerplate to FIRE the cap: $d")
      pairs.orderBy(col("da"), col("db"))
    }),

    // HOLD: the natural corpus's hottest shingle (df <= 25 at every
    // shipped SF) stays below the same ceiling; output is bit-identical
    // to l5's uncapped pairs and graded against l5's oracle verbatim.
    "l90_jaccard_cap_hold" -> ((s, dir) => {
      val (pairs, d) = Dedup.ngramJaccardPairsCapped(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8, maxDf = 50)
      require(!d.capped && d.dropped == 0 && d.hottestDf <= 50,
        s"l90 expects the natural corpus to HOLD below the cap: $d")
      pairs.orderBy(col("da"), col("db"))
    }),

    // Positioned winnowing spans — the MOSS report a reviewer reads:
    // not just WHO shares fingerprints (l85) but WHERE each shared
    // fingerprint sits in both documents (token offsets of the
    // selected grams, min-hash per window with the rightmost tie-break
    // so the selection is deterministic and SQL-replayable). Same
    // single doc-partitioned bounded window as l85; the struct min
    // carries the position along for free.
    "l88_winnow_spans" -> ((s, dir) => {
      Dedup.winnowedSpanOffsets(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4)
        .orderBy(col("da"), col("db"), col("fp"), col("pa"), col("pb"))
    }),

    // Contiguous matched intervals — l88's raw matched positions
    // merged into the line a MOSS report draws ("tokens 2–41 of A
    // match tokens 2–41 of B"): an exactly copied region puts its
    // selected fingerprints on ONE dot-plot diagonal (pa − pb
    // constant), so islands of consecutive selections within 8 tokens
    // on a (pair, diagonal) merge into maximal spans; one-fingerprint
    // coincidences die at minFps=2. One pair-local window after the
    // bucketed offsets join — nothing funnels wider than a pair's
    // match list — graded against a DuckDB replay of the identical
    // diagonal/island pipeline.
    "l91_winnow_intervals" -> ((s, dir) => {
      Dedup.winnowMatchedIntervals(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4, maxGap = 8, minFps = 2)
        .orderBy(col("da"), col("db"), col("a_start"), col("b_start"))
    }),

    // The winnow family run FOR REAL as a streaming ingest loop — the
    // exact-substring complement of l61's minhash loop, on the same
    // store machinery: four crawl drops (doc_id % 4) land one at a
    // time; each fingerprints ONLY its own docs, reports span-copy
    // pairs against the PERSISTED fingerprint store of every earlier
    // drop, and appends its own fingerprints — checkpoint-resumed,
    // history never re-tokenized. The oracle replays the whole-corpus
    // winnow pair join relationally and keeps exactly the cross-batch
    // (earlier-drop, later-drop) pairs the loop probes, so the
    // accumulated verdicts are hash-graded end to end.
    "l92_stream_winnow" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.Scratch.dir("graft_incr_wn")
      runDrops(s, docs, root, docDrops(docs))(src => graft.streaming.IncrementalDedup
        .runWinnow(src, winnowCfg(), s"$root/fps", s"$root/out", s"$root/ckpt"))
      graft.streaming.IncrementalDedup.results(s, s"$root/out")
        .select(col("new_id"), col("seen_id"), col("n_shared"),
          col("ingest_batch").cast("long").as("ingest_batch"))
        .orderBy(col("new_id"), col("seen_id"))
    }),

    // Containment-scored span pairs — the asymmetric verdict the
    // symmetric scores miss: a short document copied whole into a long
    // one shares ALL its fingerprints (containment 1.0) while its
    // Jaccard dilutes toward |short|/|long|; crawl dedup kills such
    // subset-copies on containment, not Jaccard. n_shared over the
    // SMALLER doc's fingerprint count (Broder containment, oriented at
    // the likelier copy), one IEEE division on exact integer inputs.
    "l96_winnow_containment" -> ((s, dir) => {
      Dedup.winnowContainmentPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4, minContainment = 0.8)
        .orderBy(col("da"), col("db"))
    }),

    // Containment KEEP-BEST — l96's verdict turned into the action a
    // crawl pipeline takes: from every pair at containment >= 0.8 the
    // CONTAINED side dies (smaller fingerprint set = the likelier
    // copy; equal counts drop the larger id, keeping the earlier
    // crawl). Survivors keep their metadata via one anti-join on the
    // distinct contained-id set — text never moves until the write.
    "l97_containment_dedup" -> ((s, dir) => {
      Dedup.containmentDedup(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4, minContainment = 0.8)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // SPAN-level decontamination — the exact-substring leg the n-gram
    // (l28) / bloom (l47) / semantic (l73) checks miss: a benchmark
    // item quoted verbatim inside a LONG training doc barely moves the
    // doc's n-gram overlap FRACTION, but winnowing guarantees any
    // shared run >= k+w-1 tokens lands an identical fingerprint in
    // both corpora. Flag = an ABSOLUTE evidence count (n_overlap >= 2),
    // not a fraction — one copied benchmark item is leakage no matter
    // how long the training doc is. Eval fp set broadcasts (benchmarks
    // are MBs against 100 TB); one pass over the train fingerprints.
    "l98_span_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Decontaminate.spanOverlapStats(
          train = docs.filter(col("doc_id") % 50 =!= 0),
          eval = docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", k = 5, w = 4, minShared = 2)
        .orderBy(col("doc_id"))
    }),

    // The span check's FILTERING form — what the pipeline writes out:
    // train rows sharing fewer than 2 winnow fingerprints with the
    // benchmark corpus, metadata intact. Same broadcast join shape.
    "l99_span_decontaminate_filter" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Decontaminate.spanDecontaminate(
          train = docs.filter(col("doc_id") % 50 =!= 0),
          eval = docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", k = 5, w = 4, minShared = 2)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // The LEAK-SPAN report — l98 says WHO leaked, this says WHERE:
    // per (train doc, eval doc) pair, the maximal token intervals
    // their positioned winnow selections align on (one dot-plot
    // diagonal per verbatim quote) — the evidence a reviewer reads to
    // confirm a flag, and the offsets a span-level redaction would
    // cut. Eval selections broadcast; one pair-local island window.
    "l100_leak_spans" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Decontaminate.spanLeakReport(
          train = docs.filter(col("doc_id") % 50 =!= 0),
          eval = docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", k = 5, w = 4, maxGap = 8, minFps = 2)
        .orderBy(col("train_id"), col("eval_id"),
          col("t_start"), col("e_start"))
    }),

    // Span REDACTION — cut exactly the leaked intervals and keep the
    // doc (the "remove the duplicated substring, not the document"
    // move applied to contamination). The cut list broadcasts and the
    // cutting is a codegen'd higher-order filter over each doc's own
    // token array: no explode, no token shuffle, no re-aggregation.
    // Both branches rebuild from the \S+ token stream with single
    // spaces, so the output is engine-reproducible byte for byte.
    "l101_span_redact" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Decontaminate.spanRedact(
          train = docs.filter(col("doc_id") % 50 =!= 0),
          eval = docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", k = 5, w = 4, maxGap = 8, minFps = 2)
        .orderBy(col("doc_id"))
    }),

    // Blocked edit-distance matching over the part-name VOCABULARY —
    // the entity-resolution primitive the hash families can't see (a
    // one-character typo shifts every shingle containing it but moves
    // Levenshtein by exactly 1; "cold bolt"/"old bolt" pair at dist 1
    // while sharing zero 3-gram shingles). Values dedup first (the
    // vocabulary is orders smaller than the corpus at any SF), pairs
    // materialize only inside last-word blocks with the length-bound
    // prefilter, and the measured hot-block guard HOLDS on the natural
    // vocabulary (largest block 8 values <= ceiling 20, pinned).
    "l102_fuzzy_pairs" -> ((s, dir) => {
      val (pairs, d) = Dedup.fuzzyValuePairs(
        Tables.load(s, dir, "part"), "p_name",
        v => element_at(split(v, " "), -1), maxDist = 2, maxBlock = 20)
      require(!d.capped && d.hottestDf <= 20,
        s"l102 expects the natural vocabulary to HOLD below the cap: $d")
      pairs.orderBy(col("va"), col("vb"))
    }),

    // Canonical-value mapping over the fuzzy graph — the action the
    // pairs exist for: each distinct part name maps to the
    // lexicographic min of its transitive fuzzy cluster (star-CC over
    // the l102 pairs; typo chains collapse past maxDist), singletons
    // to themselves; row counts ride along to show the corpus remap
    // is one equi-join. Oracle replays the closure as a recursive CTE
    // (the l17 pattern) over the identical pair SQL.
    "l105_fuzzy_canonical" -> ((s, dir) => {
      val part = Tables.load(s, dir, "part")
      val (m, d) = Dedup.fuzzyCanonicalize(part, "p_name",
        v => element_at(split(v, " "), -1), maxDist = 2, maxBlock = 20)
      require(!d.capped && d.hottestDf <= 20,
        s"l105 expects the natural vocabulary to HOLD below the cap: $d")
      m.join(part.groupBy(col("p_name")).agg(count(lit(1)).as("n_rows")),
          Seq("p_name"))
        .orderBy(col("p_name"))
    }),

    // Crawl-URL canonicalization. The synthetic corpus ships no URL
    // column, so (the l68 PII precedent) four messy doc_id-derived
    // variants are injected IDENTICALLY on both engines — shouting
    // host + default port + fragment + utm param, clean, doubled-slash
    // + trailing-slash + utm, and an http variant with a real query —
    // and the canonical form is hash-graded per doc. Pure codegen'd
    // regexp chain, no UDF, no shuffle beyond the output sort.
    "l103_url_canonical" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), injectedUrl.as("url"))
        .withColumn("canon_url",
          graft.functions.TextFunctions.canonicalizeUrl(col("url")))
        .orderBy(col("doc_id"))
    }),

    // URL-level crawl dedup over the canonical form — the cheapest,
    // first dedup pass a crawl pipeline runs (before any content
    // fingerprinting): group by canonical URL, keep the earliest
    // doc_id. The three messy variants of each injected group collapse
    // to ONE canonical; the http variant keeps its distinct scheme and
    // real query param (canonicalization must not unify those). One
    // shuffle on the canonical string.
    "l104_url_dedup" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), injectedUrl.as("url"))
        .groupBy(graft.functions.TextFunctions.canonicalizeUrl(col("url"))
          .as("canon_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("canon_url"))
    }),

    // Byte-level blob NEAR-dup — closes the multimodal dedup asymmetry
    // (the blob store's sha-256 identity collapses EXACT byte copies
    // only, while the text side has seven near-dup families): payloads
    // are the docs' UTF-8 bytes plus, for every 50th doc, an injected
    // re-encoded variant (4-byte header prepended, two trailing chars
    // trimmed — distinct sha-256, ~0.96+ byte-shingle Jaccard; the l68
    // injection precedent, identical on both engines). FIRE direction:
    // the corpus's common byte fragments are genuine byte boilerplate
    // — 8 shingles sit above the ndocs/2 ceiling at every shipped SF —
    // so the measured cap erases them from the universe and the
    // near-dup verdicts ride on doc-specific bytes. The oracle replays
    // shingling, cap, minhash family, banding, and verified Jaccard.
    "l106_blob_neardup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bin = blobCorpus(docs)
      val nBase = docs.count()
      // 16 hashes, bands tuned to the 0.7 report threshold (the l74
      // tuner: (1/4)^(1/4) = 0.707 → r=4). Byte shingles of this
      // small-vocabulary corpus are far more cross-doc-similar than
      // word shingles, so band selectivity is the whole ballgame: 2
      // bands of 2 admitted 74,689 candidates at sf0.1 (every
      // mid-similarity pair) and the exact-verify join priced them;
      // 4 bands of 4 admit 741 for the same verified output.
      val r = Dedup.tuneRowsPerBand(numHashes = 16, targetJaccard = 0.7)
      require(r == 4, s"the S-curve tuner must land on r=4 for (16, 0.7), got $r")
      val (pairs, d) = Dedup.byteNearDupPairs(bin, "doc_id", "payload",
        n = 8, numHashes = 16, rowsPerBand = r, threshold = 0.7,
        maxDf = nBase / 2)
      require(d.capped && d.hottestDf > nBase / 2,
        s"l106 expects natural byte boilerplate over the ndocs/2 ceiling: $d")
      pairs.orderBy(col("da"), col("db"))
    }),

    // HOLD direction: same corpus, ceiling at the total payload count —
    // a document frequency can never exceed it, so the probe measures,
    // decides NOT to cap, and the output must be bit-identical to the
    // uncapped chain (the oracle replays the PLAIN universe).
    "l108_blob_neardup_hold" -> ((s, dir) => {
      val bin = blobCorpus(Tables.load(s, dir, "documents"))
      val nAll = bin.count()
      val (pairs, d) = Dedup.byteNearDupPairs(bin, "doc_id", "payload",
        n = 8, numHashes = 16, rowsPerBand = 4, threshold = 0.7,
        maxDf = nAll)
      require(!d.capped && d.hottestDf <= nAll,
        s"l108 expects the corpus-size ceiling to HOLD by definition: $d")
      pairs.orderBy(col("da"), col("db"))
    }),

    // The RETENTION ACTION over blob near-dup groups — what l106's
    // pairs exist for, completing the blob family's symmetry with text
    // (exact sha identity / batch near-dup / streaming ingest / and
    // now groups + keep-best): verified byte pairs at l106's exact
    // settings feed the same star-CC + argmax-retention composition
    // l44 grades on text, scored here by payload SIZE (most-complete-
    // copy wins, id tiebreak — the score is the caller's policy knob;
    // first-seen-wins is score -id). On the injected corpus the
    // header-carrying variants are 2 bytes LONGER than their trimmed
    // originals, so the argmax genuinely bites in both directions
    // (some variants win their group, some die to a longer chain
    // neighbor) — pinned in-query so the grade can't go vacuous. The
    // oracle replays the full byte chain + recursive closure + the
    // size/id argmax.
    "l114_blob_neardup_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val nBase = docs.count()
      val bin = blobCorpus(docs)
      val (pairs, d) = Dedup.byteNearDupPairs(bin, "doc_id", "payload",
        n = 8, numHashes = 16, rowsPerBand = 4, threshold = 0.7,
        maxDf = nBase / 2)
      require(d.capped && d.hottestDf > nBase / 2,
        s"l114 runs l106's fire universe; expected the cap to fire: $d")
      // persisted: the retention frame feeds TWO actions (the argmax
      // non-vacuity probe and the returned ordered output) — without
      // the cache the window + remap joins re-run for each (the l119
      // discipline, backported; the CC labels inside are already
      // persisted RDDs either way)
      val kept = Dedup.keepBestPerGroup(bin, pairs, "doc_id",
          octet_length(col("payload")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // non-vacuity of the retention rule, both directions: some
      // variants (id >= 1,000,000) win their group, some lose
      val stats = kept.agg(
        sum(when(col("kept") === 0, 1L).otherwise(0L)).as("n_drop"),
        sum(when(col("kept") === 1 && col("doc_id") >= 1000000L, 1L)
          .otherwise(0L)).as("var_kept"),
        sum(when(col("kept") === 0 && col("doc_id") >= 1000000L, 1L)
          .otherwise(0L)).as("var_drop")).head()
      require(stats.getLong(0) > 0 && stats.getLong(1) > 0 && stats.getLong(2) > 0,
        s"l114 expects a non-vacuous argmax (drops > 0, variants on both " +
          s"sides): dropped=${stats.getLong(0)} varKept=${stats.getLong(1)} " +
          s"varDropped=${stats.getLong(2)}")
      kept.orderBy(col("doc_id"))
    }),

    // MULTI-PASS blocking for fuzzy ER — closes l102's stated recall
    // gap (a typo IN the last word hides the pair from the last-word
    // key forever): every 100th part injects a variant with its LAST
    // character dropped (a last-word typo at distance 1 — found ONLY
    // by the first-word key), candidates union across both keys and
    // dedup before the DP. Both keys' measured hot-block caps HOLD on
    // this vocabulary at every shipped SF (hottest 16 <= 20), pinned.
    "l107_fuzzy_multiblock" -> ((s, dir) => {
      val part = Tables.load(s, dir, "part")
      val corpus = part.select(col("p_name"))
        .unionAll(part.filter(col("p_partkey") % 100 === 0)
          .select(col("p_name").substr(lit(1), length(col("p_name")) - 1)
            .as("p_name")))
      val (pairs, ds) = Dedup.fuzzyValuePairsMultiBlock(corpus, "p_name",
        Seq(v => element_at(split(v, " "), -1),
            v => element_at(split(v, " "), 1)),
        maxDist = 2, maxBlock = 20)
      require(ds.forall(d => !d.capped && d.hottestDf <= 20),
        s"l107 expects BOTH keys' blocks under the cap: $ds")
      pairs.orderBy(col("va"), col("vb"))
    }),

    // The BLOB side of the crawl-ingest loop — l61's shape with byte
    // shingles plugged into the SAME store/checkpoint/verdict
    // machinery (Config.shingler): four drops of the blob corpus land
    // one at a time, each LSH-checked against the persisted band store
    // of every earlier drop (payloads never re-read), l106's 16-hash /
    // 4-band tuning. Variants are injected at id + 1000001 so each
    // lands one drop AFTER its original and the new-vs-seen probe can
    // see the pair; the oracle replays the cross-drop band join over
    // the identical byte chain.
    "l110_stream_blob_neardup" -> ((s, dir) => {
      val bin = blobCorpus(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        idOffset = 1000001L)
      val root = graft.Scratch.dir("graft_incr_blob")
      val cfg = graft.streaming.IncrementalDedup.Config(
        "doc_id", "payload", numHashes = 16, rowsPerBand = 4,
        shingler = Some(b => graft.operators.Dedup
          .byteShingleSet(b, "doc_id", "payload", n = 8)))
      runDrops(s, bin, root, docDrops(bin))(src => graft.streaming.IncrementalDedup
        .run(src, cfg, s"$root/bands", s"$root/out", s"$root/ckpt"))
      graft.streaming.IncrementalDedup.results(s, s"$root/out")
        .select(col("doc_id"), col("ingest_batch").cast("long").as("ingest_batch"),
          col("first_match"), col("n_matches"), col("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING decontamination — the ingest guard the batch chain
    // (l98–l101) was missing: the benchmark corpus's winnow
    // fingerprints are a PERSISTED build-once store, and every crawl
    // drop is fingerprint-checked against it AT INGEST, leaked docs
    // routed to a DLQ-shaped side output (reference route-at-ingest
    // pattern: pspf/topology.py:10-46 + pspf/stream.py:402-413). Four
    // drops in the two-start resume-graded shape; because the store is
    // static, the accumulated per-drop verdicts must hash-match the
    // batch spanOverlapStats chain on the same corpus — the oracle
    // replays exactly that, plus the drop column. Leak injection:
    // every 25th train doc (doc_id % 25 == 7, never an eval doc)
    // carries the first 200 chars of eval doc 0, so the routed side
    // output is non-empty — and therefore actually graded — at every
    // shipped SF; the in-query requires pin seed viability and
    // route/verdict agreement.
    "l111_stream_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val seed = docs.filter(col("doc_id") === 0)
        .select(substring(col("text"), 1, 200)).head().getString(0)
      require(seed.trim.split("\\s+").length >= 12,
        s"l111 expects the injected benchmark seed to carry >= 12 tokens " +
          s"(>= 2 winnow fps past the k+w-1 window), got '${seed.take(40)}...'")
      val train = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 25 === 7, concat(col("text"), lit(" "), lit(seed)))
            .otherwise(col("text")).as("text"))
      val eval = docs.filter(col("doc_id") % 50 === 0)
      val root = graft.Scratch.dir("graft_incr_dc")
      val cfg = graft.streaming.IncrementalDedup.DecontConfig(
        "doc_id", "text", k = 5, w = 4, minShared = 2)
      graft.streaming.IncrementalDedup.buildEvalFpStore(eval, cfg, s"$root/evalfp")
      runDrops(s, train, root, docDrops(train))(src => graft.streaming.IncrementalDedup
        .runDecontaminate(src, cfg, s"$root/evalfp", s"$root/out", s"$root/leak", s"$root/ckpt"))
      val out = graft.streaming.IncrementalDedup.results(s, s"$root/out")
      // the ROUTING claim, pinned: the side output holds exactly the
      // contaminated verdict set, and the injection made it non-empty
      val nLeak = graft.streaming.IncrementalDedup.results(s, s"$root/leak").count()
      val nCont = out.filter(col("contaminated")).count()
      require(nLeak == nCont && nLeak > 0,
        s"l111 expects a non-empty side output equal to the contaminated " +
          s"set, got $nLeak routed vs $nCont contaminated")
      out.select(col("doc_id"), col("n_fp"), col("n_overlap"),
          col("contaminated"), col("ingest_batch").cast("long").as("ingest_batch"))
        .orderBy(col("doc_id"))
    }),

    // The canonical mapping over MULTI-PASS pairs — what l107's recall
    // buys downstream: a last-word typo pulls into its original's
    // cluster through the first-word key's pair, so it no longer forks
    // a spurious new entity (under single-key last-word blocking every
    // injected typo would canonicalize to itself). That exact claim is
    // pinned executably: zero (original, typo) pairs may disagree on
    // their canonical. Same star-CC closure and one-equi-join remap as
    // l105; oracle replays the l107 candidate union + the l17
    // recursive-CTE closure.
    "l109_fuzzy_multiblock_canonical" -> ((s, dir) => {
      val part = Tables.load(s, dir, "part")
      val origs = part.filter(col("p_partkey") % 100 === 0)
        .select(col("p_name").as("orig")).distinct()
      val corpus = part.select(col("p_name"))
        .unionAll(origs.select(col("orig")
          .substr(lit(1), length(col("orig")) - 1).as("p_name")))
      val (m, ds) = Dedup.fuzzyCanonicalizeMultiBlock(corpus, "p_name",
        Seq(v => element_at(split(v, " "), -1),
            v => element_at(split(v, " "), 1)),
        maxDist = 2, maxBlock = 20)
      require(ds.forall(d => !d.capped && d.hottestDf <= 20),
        s"l109 expects BOTH keys' blocks under the cap: $ds")
      val forks = origs
        .select(col("orig"),
          col("orig").substr(lit(1), length(col("orig")) - 1).as("typo"))
        .join(m.select(col("p_name").as("orig"),
          col("canonical").as("c_orig")), Seq("orig"))
        .join(m.select(col("p_name").as("typo"),
          col("canonical").as("c_typo")), Seq("typo"))
        .filter(col("c_orig") =!= col("c_typo")).count()
      require(forks == 0,
        s"l109 expects every injected typo to share its original's canonical; $forks forked")
      m.orderBy(col("p_name"))
    }),

    // Q-GRAM blocking for fuzzy ER — closes the SINGLE-TOKEN blind
    // spot l107 left stated: on a one-token vocabulary (hostnames,
    // SKUs, bare surnames — here the distinct words of p_name), BOTH
    // word-split keys degenerate to whole-value identity blocking, so
    // no typo can ever pair. The set-valued character-3-gram key has a
    // different failure mode (a typo leaves most grams intact), its
    // own measured hot-block cap over the exploded (value, gram) rows,
    // and the same union-dedup-then-DP pipeline. Every length>=5 word
    // gets a last-char-dropped typo injected; the in-query requires
    // pin the inversion of l107's precedent — the word keys alone find
    // NOTHING (executably, not by prose) and the q-gram key finds
    // every injected pair. The oracle replays gram explosion, df cap,
    // block join and DP; word keys contribute zero by construction so
    // the SQL replays only the q-gram leg.
    "l112_fuzzy_qgram_block" -> ((s, dir) => {
      val words = Tables.load(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("w")).distinct()
      val corpus = words
        .unionAll(words.filter(length(col("w")) >= 5)
          .select(col("w").substr(lit(1), length(col("w")) - 1).as("w")))
      val keys: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = Seq(
        v => array(element_at(split(v, " "), -1)),
        v => array(element_at(split(v, " "), 1)),
        v => Dedup.qgramSet(v, 3))
      val (pairs, ds) = Dedup.fuzzyValuePairsMultiBlockSets(corpus, "w",
        keys, maxDist = 2, maxBlock = 16)
      require(ds.forall(d => !d.capped && d.hottestDf <= 16),
        s"l112 expects every key's blocks under the cap on this vocabulary: $ds")
      // the blind spot, executable: the word keys ALONE pair nothing
      // on one-token values (identity blocks never hold two distinct
      // values) — the q-gram key is the only source of recall here
      val (wordOnly, _) = Dedup.fuzzyValuePairsMultiBlockSets(corpus, "w",
        keys.take(2), maxDist = 2, maxBlock = 16)
      require(wordOnly.isEmpty,
        "l112 expects word-split keys to degenerate to identity blocking " +
          "on a one-token vocabulary and pair nothing")
      // ...and it recovers EVERY injected typo pair (typo is a strict
      // prefix of its original, so it sorts first: va = typo)
      val injected = words.filter(length(col("w")) >= 5)
        .select(col("w").substr(lit(1), length(col("w")) - 1).as("va"),
          col("w").as("vb"))
      val missed = injected.join(pairs, Seq("va", "vb"), "left_anti").count()
      require(missed == 0,
        s"l112 expects the q-gram key to recover every injected typo pair; $missed missed")
      pairs.orderBy(col("va"), col("vb"))
    }),

    // The CANONICAL action over the q-gram pairs — l109's claim
    // carried to the single-token vocabulary: a one-token typo pulls
    // into its original's cluster through the q-gram key's pair, so it
    // no longer forks a spurious entity (under word-split blocking
    // EVERY value self-maps on this corpus — the word keys pair
    // nothing, pinned in l112). Same star-CC closure + equi-join
    // remap; the in-query require pins zero forks across all injected
    // (original, typo) pairs. Oracle: l112's candidate chain + the
    // l17 recursive-CTE closure.
    "l115_fuzzy_qgram_canonical" -> ((s, dir) => {
      val words = Tables.load(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("w")).distinct()
      val corpus = words
        .unionAll(words.filter(length(col("w")) >= 5)
          .select(col("w").substr(lit(1), length(col("w")) - 1).as("w")))
      val keys: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = Seq(
        v => array(element_at(split(v, " "), -1)),
        v => array(element_at(split(v, " "), 1)),
        v => Dedup.qgramSet(v, 3))
      val (m, ds) = Dedup.fuzzyCanonicalizeMultiBlockSets(corpus, "w",
        keys, maxDist = 2, maxBlock = 16)
      require(ds.forall(d => !d.capped && d.hottestDf <= 16),
        s"l115 expects every key's blocks under the cap: $ds")
      val forks = words.filter(length(col("w")) >= 5)
        .select(col("w").as("orig"),
          col("w").substr(lit(1), length(col("w")) - 1).as("typo"))
        .join(m.select(col("w").as("orig"), col("canonical").as("c_orig")), Seq("orig"))
        .join(m.select(col("w").as("typo"), col("canonical").as("c_typo")), Seq("typo"))
        .filter(col("c_orig") =!= col("c_typo")).count()
      require(forks == 0,
        s"l115 expects every injected typo to share its original's canonical; $forks forked")
      m.orderBy(col("w"))
    }),

    // PERCEPTUAL blob near-dup, FIRE direction — the duplicate class
    // byte-shingle LSH cannot see by construction: every 50th doc
    // injects a RE-ENCODED variant (adjacent byte pairs swapped — the
    // deterministic stand-in for a quality/format change) that shares
    // ZERO byte 8-grams with its original (byte-shingle Jaccard = 0,
    // unreachable by any threshold) while preserving every 64-cell
    // block sum exactly (pair-aligned swaps cancel inside the
    // even-length cells the %128 truncation guarantees), so the
    // decode-free raster hashes are IDENTICAL. Both blind-spot
    // directions are pinned executably (the l112 pattern): the
    // production byte-LSH operator finds NONE of the injected pairs;
    // the Hamming-banded perceptual key finds ALL of them at distance
    // 0. The corpus's own built-in near-dups (identical truncated
    // prefixes) surface too — genuine perceptual duplicates, replayed
    // by the oracle's identical bit-arithmetic chain.
    "l116_blob_perceptual_neardup" -> ((s, dir) => {
      import graft.operators.Multimodal
      // persisted: the corpus (including the non-trivial swap-variant
      // build) feeds THREE consumers — the perceptual chain, the
      // injected-pair probe, and the byte-LSH blind-spot leg. The
      // blockSums closure no longer needs the root-column pin (it
      // evaluates payload once per row), but dropping this persist was
      // MEASURED SLOWER (l116 5.3 → 12.8 s at 32 cores: the variant
      // construction and the pair chain's two band-join sides each
      // re-ran the corpus build), so it stays.
      val bin = perceptualCorpus(Tables.load(s, dir, "documents"),
        variant = SwapVariant)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Multimodal.perceptualNearDupPairs(bin, "doc_id", "payload",
        maxHamming = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val injected = bin.filter(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("da"), col("doc_id").as("db"))
      val missed = injected.join(pairs, Seq("da", "db"), "left_anti").count()
      require(missed == 0,
        s"l116 expects the perceptual key to pair every injected re-encode; $missed missed")
      // the blind spot, executable — and pinned against the STRONGEST
      // byte operator, the recall-stratified banding at l113's tuning,
      // not just the base form: even with the short-payload recall
      // loop closed, a re-encode pair is unreachable because the exact
      // verification reads byte Jaccard ~0 (the swap kills every
      // 8-gram) — the gap is the SIGNAL's, not the banding's. Band
      // signatures are per-doc, so restricting to the
      // injection-relevant subset proves the same claim as the full
      // corpus at a fraction of the cost (no cap: the probe must
      // measure the plain universe).
      val sub = bin.filter(col("doc_id") >= 1000000L || col("doc_id") % 50 === 0)
      val (bytePairs, _) = Dedup.byteNearDupPairsStratified(sub, "doc_id",
        "payload", n = 8, numHashes = 16, rowsPerBand = 4,
        shortRowsPerBand = 2, shortMaxShingles = 121, threshold = 0.7,
        maxDf = Long.MaxValue)
      val byteHits = injected.join(bytePairs, Seq("da", "db"), "left_semi").count()
      require(byteHits == 0,
        s"l116 expects byte-shingle LSH blind to every re-encode pair, found $byteHits")
      pairs.orderBy(col("da"), col("db"))
    }),

    // PERCEPTUAL blob near-dup, HOLD direction — the exact inverse of
    // l116, proving the key measures the RASTER and not the bytes:
    // the injected variant here is l106's byte-near-dup shape (4-byte
    // header prepended, tail trimmed, re-truncated) — byte-shingle
    // Jaccard ~0.95 (the shifted content windows are shared), but the
    // 4-byte shift moves every cell boundary's content, scrambling the
    // decode-free raster (measured dHash Hamming 27-44 at every
    // shipped SF). Pinned both ways: byte-LSH pairs EVERY injected
    // variant, the perceptual key pairs NONE. Together with l116 the
    // two keys' duplicate classes are provably disjoint — each is the
    // other's blind spot, and a 100 TB multimodal pipeline needs both.
    "l118_blob_perceptual_hold" -> ((s, dir) => {
      import graft.operators.Multimodal
      // persisted for the same three consumers as l116 (and measured
      // the same way: dropping it was slower)
      val bin = perceptualCorpus(Tables.load(s, dir, "documents"),
        variant = HeaderShiftVariant)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Multimodal.perceptualNearDupPairs(bin, "doc_id", "payload",
        maxHamming = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val injected = bin.filter(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("da"), col("doc_id").as("db"))
      val phantom = injected.join(pairs, Seq("da", "db"), "left_semi").count()
      require(phantom == 0,
        s"l118 expects the perceptual key to hold on every byte-shifted " +
          s"variant (the raster moved), found $phantom pairs")
      // the byte leg runs the recall-STRATIFIED banding (l113's
      // tuning): the shift-variant of a minimum-length (128-byte)
      // payload sits exactly on the base banding's S-curve flank —
      // the one place base recall is < 1 by measurement (l113's short
      // stratum) — and the fine 2-row bands are the operator-level
      // answer to precisely that, so "byte-LSH pairs every shifted
      // variant" is deterministic at every SF instead of riding the
      // flank's luck
      val sub = bin.filter(col("doc_id") >= 1000000L || col("doc_id") % 50 === 0)
      val (bytePairs, _) = Dedup.byteNearDupPairsStratified(sub, "doc_id",
        "payload", n = 8, numHashes = 16, rowsPerBand = 4,
        shortRowsPerBand = 2, shortMaxShingles = 121, threshold = 0.7,
        maxDf = Long.MaxValue)
      val byteMissed = injected.join(bytePairs, Seq("da", "db"), "left_anti").count()
      require(byteMissed == 0,
        s"l118 expects byte-shingle LSH to pair every header-shifted " +
          s"variant (byte Jaccard ~0.95), $byteMissed missed")
      pairs.orderBy(col("da"), col("db"))
    }),

    // The RETENTION ACTION over perceptual near-dup groups — l114's
    // symmetry carried to the perceptual key, completing the family
    // (pairs fire/hold -> groups + keep-best): l116's fire-universe
    // pairs feed the same star-CC + argmax composition, scored by
    // payload size (most-complete-copy wins, id tiebreak). Two
    // non-vacuity pins, each grading a different leg of the policy:
    // every injected swap twin ties its original's size EXACTLY (the
    // swap preserves length by construction) and must lose to the
    // smaller id — the deterministic-tiebreak leg; and strictly more
    // docs drop than there are injected twins — natural perceptual
    // groups (identical truncated prefixes) also collapse, so the
    // closure leg isn't riding the injection alone. On this corpus the
    // size argmax coincides with first-seen (group keepers are also
    // min ids — measured, not required: the score is the caller's
    // policy knob, and the tie leg is what the grade pins).
    "l119_blob_perceptual_dedup" -> ((s, dir) => {
      import graft.operators.Multimodal
      // same multi-consumer persist discipline as l116: the corpus
      // feeds the pair chain, the retention join, and the probe
      // aggregates (dropping it was measured slower, like l116)
      val bin = perceptualCorpus(Tables.load(s, dir, "documents"),
        variant = SwapVariant)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Multimodal.perceptualNearDupPairs(bin, "doc_id", "payload",
        maxHamming = 3)
      val kept = Dedup.keepBestPerGroup(bin, pairs.select(col("da"), col("db")),
          "doc_id", octet_length(col("payload")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nInjected = bin.filter(col("doc_id") >= 1000000L).count()
      val stats = kept.agg(
        sum(when(col("kept") === 0, 1L).otherwise(0L)).as("n_drop"),
        sum(when(col("kept") === 1 && col("doc_id") >= 1000000L, 1L)
          .otherwise(0L)).as("var_kept"),
        sum(when(col("kept") === 0 && col("doc_id") >= 1000000L, 1L)
          .otherwise(0L)).as("var_drop")).head()
      require(stats.getLong(1) == 0 && stats.getLong(2) == nInjected,
        s"l119 expects every injected swap twin to lose the size tie to " +
          s"its smaller-id original: kept=${stats.getLong(1)} " +
          s"dropped=${stats.getLong(2)} of $nInjected")
      require(stats.getLong(0) > nInjected,
        s"l119 expects natural perceptual groups to collapse beyond the " +
          s"injection: dropped=${stats.getLong(0)} vs $nInjected injected")
      kept.orderBy(col("doc_id"))
    }),

    // The decontamination guard's BENCHMARK-REFRESH path — l111 pinned
    // the static-store crawl; the operational story ("a benchmark
    // refresh is one store rebuild, not a crawl replay") was prose
    // until here. Two eval-seed injections mark the timeline: every
    // doc_id % 5 == 2 train doc leaks eval doc 0 (in the benchmark
    // from the start), every doc_id % 5 == 3 doc leaks eval doc 25
    // (added by the mid-crawl refresh). Drops 0-1 drain against store
    // v1, then buildEvalFpStore REBUILDS the store in place with the
    // enlarged benchmark and a genuine checkpoint-resumed second start
    // drains drops 2-3 against v2 — no checkpoint surgery, no batch
    // replay. Pinned executably in both directions against a
    // batch-computed v1 overlap: pre-refresh, every doc-25 leaker
    // that is clean under v1 reads NOT contaminated (the refresh is
    // not retroactive); post-refresh, every such doc reads
    // contaminated (the new store is live); and the routed side
    // output equals the contaminated set (l111's routing pin). The
    // oracle replays per-drop verdicts against the store THAT DROP
    // ingested under.
    "l117_decon_refresh" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val seed1 = docs.filter(col("doc_id") === 0)
        .select(substring(col("text"), 1, 200)).head().getString(0)
      val seed2 = docs.filter(col("doc_id") === 25)
        .select(substring(col("text"), 1, 200)).head().getString(0)
      require(seed1.trim.split("\\s+").length >= 12 &&
        seed2.trim.split("\\s+").length >= 12,
        "l117 expects both benchmark seeds to carry >= 12 tokens " +
          "(>= 2 winnow fps past the k+w-1 window)")
      val train = docs
        .filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 50 =!= 25)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 2, concat(col("text"), lit(" "), lit(seed1)))
            .when(col("doc_id") % 5 === 3, concat(col("text"), lit(" "), lit(seed2)))
            .otherwise(col("text")).as("text"))
      val evalV1 = docs.filter(col("doc_id") % 50 === 0)
      val evalV2 = docs.filter(col("doc_id") % 50 === 0 || col("doc_id") % 50 === 25)
      val root = graft.Scratch.dir("graft_incr_dcr")
      val cfg = graft.streaming.IncrementalDedup.DecontConfig(
        "doc_id", "text", k = 5, w = 4, minShared = 2)
      // drops 0-1 ingest under v1; the refresh — ONE in-place store
      // rebuild mid-crawl — precedes drops 2-3
      runDrops(s, train, root, docDrops(train), legs = Seq(0 until 2, 2 until 4),
        beforeLeg = i => graft.streaming.IncrementalDedup.buildEvalFpStore(
          if (i == 0) evalV1 else evalV2, cfg, s"$root/evalfp"))(src =>
        graft.streaming.IncrementalDedup.runDecontaminate(
          src, cfg, s"$root/evalfp", s"$root/out", s"$root/leak", s"$root/ckpt"))
      val out = graft.streaming.IncrementalDedup.results(s, s"$root/out")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // batch-computed v1 overlaps isolate the refresh's effect from
      // any NATURAL v1 contamination a doc-25 leaker might also carry
      val v1fp = Dedup.winnowFingerprints(evalV1, "doc_id", "text", 5, 4)
        .select(col("fp")).distinct()
      val v1clean = Dedup.winnowFingerprints(train.filter(col("doc_id") % 5 === 3),
          "doc_id", "text", 5, 4)
        .join(v1fp, Seq("fp"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("v1_overlap"))
        .join(train.filter(col("doc_id") % 5 === 3).select(col("doc_id")),
          Seq("doc_id"), "right")
        .select(col("doc_id"), coalesce(col("v1_overlap"), lit(0L)).as("v1_overlap"))
        .filter(col("v1_overlap") < 2)
      val probe = out.join(v1clean, Seq("doc_id"))
        .groupBy((col("ingest_batch") >= 2).as("post"))
        .agg(count(lit(1)).as("n"),
          sum(col("contaminated").cast("long")).as("n_cont"))
        .collect().map(r => r.getBoolean(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val (nPre, cPre) = probe.getOrElse(false, (0L, 0L))
      val (nPost, cPost) = probe.getOrElse(true, (0L, 0L))
      require(nPre > 0 && cPre == 0,
        s"l117 expects v1-clean doc-25 leakers in drops 0-1 to read NOT " +
          s"contaminated (refresh is not retroactive): $cPre of $nPre flagged")
      require(nPost > 0 && cPost == nPost,
        s"l117 expects every v1-clean doc-25 leaker in drops 2-3 " +
          s"contaminated under the refreshed store: $cPost of $nPost")
      val nLeak = graft.streaming.IncrementalDedup.results(s, s"$root/leak").count()
      val nCont = out.filter(col("contaminated")).count()
      require(nLeak == nCont && nLeak > 0,
        s"l117 expects a non-empty side output equal to the contaminated " +
          s"set, got $nLeak routed vs $nCont contaminated")
      out.select(col("doc_id"), col("n_fp"), col("n_overlap"),
          col("contaminated"), col("ingest_batch").cast("long").as("ingest_batch"))
        .orderBy(col("doc_id"))
    }),

    // LENGTH-STRATIFIED byte-LSH recall audit — turns the byte
    // family's recall story (a README anecdote: "99/100, one short-doc
    // miss") into measured rows, run over the ACTUAL blob store's
    // payload column (l72's content-addressed store — the frame
    // byteNearDupPairs exists for, exact dups already collapsed by
    // sha addressing). Ground truth is exact byte-Jaccard with no
    // banding, priced by a deterministic 10 % doc sample (doc_id % 10
    // — contains every % 50 original, so the injected variants' true
    // partners are always in-universe; the l63 sampling discipline:
    // restriction never biases a per-pair verdict). The LSH leg is the
    // production operator at l106's tuning on the SAME uncapped
    // shingle universe, so its verified pairs are a subset of the
    // exact set by construction and recall per min-payload-length
    // stratum is the banding's whole trade. At sf0.1 the short-payload
    // stratum carries the known S-curve miss as a graded row
    // (20/21, recall ~0.952); every other stratum reads 1.0.
    "l113_byte_lsh_recall" -> ((s, dir) => {
      import graft.operators.Multimodal
      val sample = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
      val bin = blobCorpus(sample)
      val root = graft.Scratch.dir("graft_blobrec")
      Multimodal.writeBlobStore(s,
        bin.select(col("doc_id"), col("payload").as("content")),
        s"$root/store", nFiles = 8)
      val store = s.read.parquet(s"$root/store")
      val nAll = store.count()
      val exact = Dedup.byteJaccardPairs(store, "blob_key", "content",
        n = 8, threshold = 0.7)
      // the CLOSED LOOP on the measured trade (round-15 directive):
      // the stratified leg re-bands the short stratum (shingle count
      // under ceil(121/0.7) = 173 — 121 = the most shingles a sub-128-
      // byte payload can carry, the audit's stratum-0 bound) at the
      // tuner's r for a 0.5 target: more, shorter bands, recall over
      // precision exactly where the S-curve flank was the miss. ONE
      // audit call yields BOTH legs off one shingle frame and one base
      // band aggregate (the fine leg is priced as its marginal delta),
      // and the exact leg's identical shingle plan reads the same
      // cache (CacheManager dedupes canonical plans).
      val rShort = Dedup.tuneRowsPerBand(numHashes = 16, targetJaccard = 0.5)
      require(rShort == 2, s"the S-curve tuner must land on r=2 for (16, 0.5), got $rShort")
      val (lshBase0, lshStrat0, d) = Dedup.byteNearDupPairsAudit(store, "blob_key",
        "content", n = 8, numHashes = 16, rowsPerBand = 4,
        shortRowsPerBand = rShort, shortMaxShingles = 121,
        threshold = 0.7, maxDf = nAll)
      // both pair frames feed the report AND the outside probe below —
      // persist the (tiny) verified sets so the probe's action reads
      // them instead of re-running the verify joins
      val lshBase = lshBase0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lshStrat = lshStrat0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      require(!d.capped && d.hottestDf <= nAll,
        s"l113 audits the UNCAPPED universe (exact and LSH legs must share " +
          s"one shingle set for recall to be the only difference): $d")
      val nb = store.select(col("blob_key"), col("n_bytes"))
      val rep = exact
        .join(nb.select(col("blob_key").as("da"), col("n_bytes").as("_na")), "da")
        .join(nb.select(col("blob_key").as("db"), col("n_bytes").as("_nb")), "db")
        .select(col("da"), col("db"),
          floor(least(col("_na"), col("_nb")) / 128).cast("long").as("stratum"))
        .join(lshBase.select(col("da"), col("db"), lit(1).as("hit_base")),
          Seq("da", "db"), "left")
        .join(lshStrat.select(col("da"), col("db"), lit(1).as("hit")),
          Seq("da", "db"), "left")
        .groupBy(col("stratum"))
        .agg(count(lit(1)).as("n_exact"), count(col("hit_base")).as("n_lsh_base"),
          count(col("hit")).as("n_lsh"))
        .select(col("stratum"), col("n_exact"), col("n_lsh_base"), col("n_lsh"),
          (col("n_exact") - col("n_lsh")).as("n_missed"),
          (col("n_lsh_base").cast("double") / col("n_exact")).as("recall_base"),
          (col("n_lsh").cast("double") / col("n_exact")).as("recall"))
        .orderBy(col("stratum"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      require(rep.agg(sum(col("n_exact"))).head().getLong(0) > 0,
        "l113 expects a non-empty exact ground truth (the injected " +
          "variants guarantee near-dup pairs in the sampled universe)")
      // both directions of the stratified trade, executable: recall
      // never drops in any stratum, and every pair the fine banding
      // ADDS has both sides inside the short universe (extra recall
      // comes only from the stratum the cut targets — no global
      // candidate blowup).
      require(rep.filter(col("n_lsh") < col("n_lsh_base")).isEmpty,
        "l113 expects stratified banding to dominate base recall in every stratum")
      val nsh = Dedup.byteShingleSet(store, "blob_key", "content", n = 8)
        .groupBy(col("blob_key")).agg(count(lit(1)).as("_nsh"))
      val outside = lshStrat.join(lshBase, Seq("da", "db"), "left_anti")
        .join(nsh.select(col("blob_key").as("da"), col("_nsh").as("_sa")), "da")
        .join(nsh.select(col("blob_key").as("db"), col("_nsh").as("_sb")), "db")
        .filter(greatest(col("_sa"), col("_sb")) >= 173).count()
      require(outside == 0,
        s"l113 expects every stratified-only pair to have BOTH sides in " +
          s"the short universe (shingle count < 173), found $outside outside")
      rep
    }),

    // The winnow loop's HOT-FINGERPRINT CAP, fire direction: every
    // third document carries the injected license suffix (one
    // guaranteed common fingerprint), so at EVERY turn the accumulated
    // df of that bucket is far over the ceiling and the per-turn probe
    // drops it from both probe sides — without this, the bucket's
    // probe join grows quadratically with the crawl. The store still
    // appends uncapped fingerprints (caps are probe-time decisions);
    // the oracle replays the per-turn df measurement and cap in SQL —
    // a green hash row proves each turn's CAPPED pair set, not merely
    // that something was dropped. The in-query require pins the fire
    // precondition (the corpus is actually over the ceiling).
    "l94_stream_winnow_cap" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" standard license header text " +
              "appended by the crawler pipeline every run")))
            .otherwise(col("text")).as("text"))
      val hottest = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 5, w = 4)
        .groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .agg(max(col("df"))).head().getLong(0)
      require(hottest > 8,
        s"l94 expects the injected boilerplate over the df-8 ceiling, got $hottest")
      val root = graft.Scratch.dir("graft_incr_wncap")
      runDrops(s, docs, root, docDrops(docs))(src => graft.streaming.IncrementalDedup
        .runWinnow(src, winnowCfg(maxDf = 8), s"$root/fps", s"$root/out", s"$root/ckpt"))
      graft.streaming.IncrementalDedup.results(s, s"$root/out")
        .select(col("new_id"), col("seen_id"), col("n_shared"),
          col("ingest_batch").cast("long").as("ingest_batch"))
        .orderBy(col("new_id"), col("seen_id"))
    }),

    // HOLD direction: the natural corpus's hottest fingerprint (df <= 4
    // at every shipped SF — and therefore <= 4 at every accumulated
    // turn prefix) stays below the same ceiling, every turn's probe is
    // a no-op, and the armed loop's output is bit-identical to l92's
    // uncapped run — graded against l92's oracle verbatim.
    "l95_stream_cap_hold" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val hottest = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 5, w = 4)
        .groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .agg(max(col("df"))).head().getLong(0)
      require(hottest <= 8,
        s"l95 expects the natural corpus under the df-8 ceiling, got $hottest")
      val root = graft.Scratch.dir("graft_incr_wnhold")
      runDrops(s, docs, root, docDrops(docs))(src => graft.streaming.IncrementalDedup
        .runWinnow(src, winnowCfg(maxDf = 8), s"$root/fps", s"$root/out", s"$root/ckpt"))
      graft.streaming.IncrementalDedup.results(s, s"$root/out")
        .select(col("new_id"), col("seen_id"), col("n_shared"),
          col("ingest_batch").cast("long").as("ingest_batch"))
        .orderBy(col("new_id"), col("seen_id"))
    }),

    // The VECTOR store loop run for real — AnnIndex.runIngest was
    // spec-verified (AnnIndexSpec, the scale rehearsal) but carried no
    // CORRECTNESS row; this grades it end to end: base index built on
    // the 16 training vectors, four embedding drops driven through the
    // actual checkpoint-resumed streaming loop in TWO starts (drops
    // 0–2 as single pinned-mtime files drained by one AvailableNow run
    // at maxFilesPerTrigger=1, drop 3 by a genuine checkpoint-resumed
    // second start — tag = batch id either way), the in-loop fold
    // collapsing {batch_0, batch_1} at the cadence point, and the
    // final serve graded against l55's whole-corpus recompute oracle
    // VERBATIM — stream-built == batch-built, bit for bit. In-query
    // requires pin the loop's physical behavior (one partition per
    // drop, the fold actually fired in-loop).
    "l93_stream_ann_ingest" -> ((s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annstr")
      AnnIndex.buildIvfPq(emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        dim = 64, m = 4, k = 16, nCentroids = 16, dir = s"$root/ix")
      runDrops(s, emb, root, b => emb.filter(col("vec_id") >= 16 && col("vec_id") % 4 === b),
        checkBatches = false)(src => AnnIndex.runIngest(src, s"$root/ix", "vec_id", "embedding",
        dim = 64, m = 4, checkpointDir = s"$root/ckpt", compactEvery = 2))
      require(AnnIndex.servableIngests(s, s"$root/ix") ==
          Seq("base", "batch_1", "batch_2", "batch_3"),
        "the loop must append one partition per drop and fold {0,1} in-loop")
      AnnIndex.serveIvfPq(AnnIndex.load(s, s"$root/ix"),
        emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        dim = 64, m = 4, nProbe = 4, topK = 10)
    }),

    // Incremental artifact refresh — l75's snapshot diff DRIVING the
    // pipeline: the previous cycle's per-doc quality scores are a
    // persisted artifact; the new cycle recomputes ONLY added+changed
    // docs, drops removed ones, and splices unchanged state through
    // untouched. Graded against DuckDB's FULL recompute over the new
    // snapshot — the green hash row IS the incremental-view-
    // maintenance equivalence claim (at 100 TB with a 1 % delta, the
    // difference between reprocessing a terabyte and everything).
    // In-query requires pin the contract: all three verdicts present
    // (no vacuous grade) and the recompute leg touches EXACTLY
    // |added| + |changed| documents.
    "l77_incremental_refresh" -> ((s, dir) => {
      import graft.operators.Audit
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val d = Tables.load(s, dir, "documents")
      val prev = d.filter(col("doc_id") % 13 =!= 3)
        .select(col("doc_id"), col("text"))
      val cur = d.filter(col("doc_id") % 11 =!= 4)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
      def score(c: org.apache.spark.sql.DataFrame) =
        c.select(col("doc_id"),
            TextFunctions.qualityScore(col("text")).as("q_score"))
          .withColumn("keep", col("q_score") >= 0.5)
      val root = graft.Scratch.dir("graft_incr")
      score(prev).write.parquet(s"$root/state") // the standing artifact
      val state = s.read.parquet(s"$root/state")
      val diff = Audit.snapshotDiff(prev, cur, "doc_id", col("text"))
        .persist(lvl)
      val counts = diff.groupBy(col("status")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // <= 3 rows
      require(Seq("added", "removed", "changed")
          .forall(counts.getOrElse(_, 0L) > 0L),
        s"diff must exercise all three verdicts, got $counts")
      var recomputedRows = -1L
      val out = Audit.incrementalRefresh(state, cur, diff, "doc_id", todo => {
        val r = score(todo).persist(lvl)
        recomputedRows = r.count()
        r
      })
      require(recomputedRows == counts("added") + counts("changed"),
        s"delta recompute touched $recomputedRows docs, expected " +
          s"${counts("added") + counts("changed")} (added+changed only)")
      out.orderBy(col("doc_id"))
    }),

    // Blob-store APPEND — stores accrete across ingest cycles: the
    // previous cycle's store plus the new snapshot's payloads, where
    // only shas the store doesn't already hold are written (content
    // addressing makes cross-ingest dedup one anti-join). In-query
    // requires pin the lifecycle claims: the grown store holds exactly
    // the UNION's distinct payloads, a replayed append writes nothing,
    // and the new cycle's pointers restore its corpus through the
    // Delta losslessness gate. Graded on the per-source profile of the
    // RESTORED new snapshot.
    "l78_blob_append" -> ((s, dir) => {
      import graft.operators.{Delta, Multimodal}
      val d = Tables.load(s, dir, "documents")
      val prev = d.filter(col("doc_id") % 13 =!= 3)
        .select(col("doc_id"), col("text"), col("source"))
      val cur = d.filter(col("doc_id") % 11 =!= 4)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"),
          col("source"))
      val root = graft.Scratch.dir("graft_blobapp")
      val store = s"$root/store"
      Multimodal.writeBlobStore(s,
        Multimodal.asBinary(prev, "doc_id", "text"), store, nFiles = 8)
      val pointers = Multimodal.appendBlobStore(s,
        Multimodal.asBinary(cur, "doc_id", "text"), store, nFiles = 4)
      val unionDistinct = prev.select(col("text"))
        .union(cur.select(col("text"))).distinct().count()
      val storeRows = s.read.parquet(store).count()
      require(storeRows == unionDistinct,
        s"append must dedup across ingests: store $storeRows vs union-distinct $unionDistinct")
      Multimodal.appendBlobStore(s,
        Multimodal.asBinary(cur, "doc_id", "text"), store, nFiles = 4)
      require(s.read.parquet(store).count() == storeRows,
        "a replayed append must write nothing")
      val restored = Multimodal.joinBlobs(s, store, pointers)
        .select(col("doc_id"), decode(col("content"), "UTF-8").as("text"))
      Delta.assertLossless(restored,
        cur.select(col("doc_id"), col("text")), "blob-append")
      restored.join(cur.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_blobs"),
          sum(octet_length(col("text"))).cast("long").as("sum_bytes"))
        .orderBy(col("source"))
    }),

    // Blob-store VACUUM — the erasure pass for media: content
    // addressing stores bytes once, so a blob dies only when its LAST
    // referencing row is gone (refcount semantics via one semi-join
    // against the live pointers). The swap is two atomic directory
    // renames with state-derived crash recovery. In-query requires pin
    // that the vacuum kept EXACTLY the live snapshot's distinct
    // payloads and actually dropped the erased docs' blobs; the
    // surviving pointers restore their corpus through the Delta gate;
    // graded on the restored snapshot's per-source profile.
    "l79_blob_vacuum" -> ((s, dir) => {
      import graft.operators.{Delta, Multimodal}
      val d = Tables.load(s, dir, "documents")
      val all = d.select(col("doc_id"), col("text"), col("source"))
      val cur = all.filter(col("doc_id") % 11 =!= 4)
      val root = graft.Scratch.dir("graft_blobvac")
      val store = s"$root/store"
      val allPtr = Multimodal.writeBlobStore(s,
        Multimodal.asBinary(all, "doc_id", "text"), store, nFiles = 8)
      val livePtr = allPtr.join(cur.select(col("doc_id")), Seq("doc_id"))
      val (kept, dropped) = Multimodal.vacuumBlobStore(s, store, livePtr, nFiles = 8)
      val liveDistinct = cur.select(col("text")).distinct().count()
      require(kept == liveDistinct,
        s"vacuum must keep exactly the live payloads: kept $kept vs $liveDistinct")
      require(dropped > 0, "the erased docs' unreferenced blobs must drop")
      val restored = Multimodal.joinBlobs(s, store, livePtr)
        .select(col("doc_id"), decode(col("content"), "UTF-8").as("text"))
      Delta.assertLossless(restored,
        cur.select(col("doc_id"), col("text")), "blob-vacuum")
      restored.join(cur.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_blobs"),
          sum(octet_length(col("text"))).cast("long").as("sum_bytes"))
        .orderBy(col("source"))
    })
  )

  /** The l58 training replay: an UNROLLED 10-iteration GD chain. Each
    * step is two CTEs — exact-decimal gradient sums under the previous
    * weights, then the weight update — generated mechanically so the
    * oracle provably runs the same recurrence as Classify.trainLogReg
    * (same per-row 9-d.p. round, same decimal sums, same operation
    * order in z and the update). */
  private def logRegOracle: String = logRegOracleWith(
    """SELECT i.w1 AS w_stop, i.w2 AS w_punct, i.w0 AS w_bias,
      |  CAST(SUM(CASE WHEN ((i.w1*f.x1 + i.w2*f.x2 + i.w0) >= 0) = (f.y = 1.0)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  COUNT(*) AS n_rows
      |FROM feats f, i10 i GROUP BY 1, 2, 3""".stripMargin)

  /** The shared l58/l59 training replay (unrolled GD chain); callers
    * supply the final SELECT over `feats` × `i10`. */
  private def logRegOracleWith(finalSelect: String): String = {
    val z = "(i.w1*f.x1 + i.w2*f.x2 + i.w0)"
    val p = s"1.0/(1.0 + exp(-$z))"
    def grad(t: String) =
      s"SUM(CAST(round(($p - f.y)$t, 9) AS DECIMAL(28,9)))"
    val steps = (1 to 10).map { k =>
      s"""g$k AS (SELECT ${grad(" * f.x1")} AS g1, ${grad(" * f.x2")} AS g2,
         |    ${grad("")} AS g0 FROM feats f, i${k - 1} i),
         |i$k AS (SELECT i.w1 - CAST(g.g1 AS DOUBLE)/nn.n AS w1,
         |    i.w2 - CAST(g.g2 AS DOUBLE)/nn.n AS w2,
         |    i.w0 - CAST(g.g0 AS DOUBLE)/nn.n AS w0
         |  FROM i${k - 1} i, g$k g, nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH feats AS (SELECT doc_id,
       |    CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
       |        x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
       |      / len(regexp_extract_all(text, '\\S+')) AS x1,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |      / length(text) AS x2,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents
       |  WHERE length(text) > 0 AND len(regexp_extract_all(text, '\\S+')) > 0),
       |nn AS (SELECT COUNT(*) AS n FROM feats),
       |i0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w0),
       |$steps
       |$finalSelect""".stripMargin
  }

  /** The winnowing pair pipeline in DuckDB — shared verbatim by l85
    * (the uncapped generator) and l87 (the capped generator holding
    * below its df ceiling on the natural corpus: identical output by
    * the hold contract). */
  private val winnowPairsSql: String =
    """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
      |              FROM documents),
      |g AS (SELECT doc_id, i-1 AS pos,
      |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
      |          AS BIGINT) AS h,
      |        len(ws)-4 AS ng
      |      FROM toks, UNNEST(generate_series(1, len(ws)-4)) t(i)
      |      WHERE len(ws) >= 5),
      |wm AS (SELECT doc_id, pos, ng,
      |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |       FROM g),
      |fps AS (SELECT DISTINCT doc_id, fp FROM wm
      |        WHERE pos <= greatest(ng-4, 0)),
      |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_shared
      |          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT da, db, n_shared FROM pairs WHERE n_shared >= 2
      |ORDER BY da, db""".stripMargin

  /** The winnow span-ingest loop's batch replay in DuckDB — shared
    * verbatim by l92 (the uncapped loop) and l95 (the armed cap
    * HOLDING below its ceiling on the natural corpus: identical
    * output by the hold contract). */
  private val streamWinnowSql: String =
    """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
      |              FROM documents),
      |g AS (SELECT doc_id, i-1 AS pos,
      |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
      |          AS BIGINT) AS h,
      |        len(ws)-4 AS ng
      |      FROM toks, UNNEST(generate_series(1, len(ws)-4)) t(i)
      |      WHERE len(ws) >= 5),
      |wm AS (SELECT doc_id, pos, ng,
      |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |       FROM g),
      |fps AS (SELECT DISTINCT doc_id, fp FROM wm
      |        WHERE pos <= greatest(ng-4, 0)),
      |pr AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_shared
      |       FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2)
      |SELECT CASE WHEN da % 4 > db % 4 THEN da ELSE db END AS new_id,
      |  CASE WHEN da % 4 > db % 4 THEN db ELSE da END AS seen_id,
      |  n_shared,
      |  CAST(greatest(da % 4, db % 4) AS BIGINT) AS ingest_batch
      |FROM pr WHERE da % 4 <> db % 4 AND n_shared >= 2
      |ORDER BY new_id, seen_id""".stripMargin

  /** Shared train/eval winnow CTE chain for the span-decontamination
    * family (l98 stats / l99 filter / l111 streaming guard): the l85
    * winnowing replay run on BOTH sides of the doc_id % 50 benchmark
    * split, ending in `tfp` (train (doc_id, fp)), `efp` (the eval
    * corpus's distinct fingerprints) and `hits` (per-train-doc overlap
    * counts). The train definition is a parameter so l111's
    * leak-injected corpus reuses the chain verbatim. */
  private def spanDecontamCtesFrom(trSql: String): String =
    ("WITH tr AS (" + trSql + "),\n") +
    """ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |ttk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM tr),
      |tg AS (SELECT doc_id, i-1 AS pos,
      |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
      |          AS BIGINT) AS h,
      |        len(ws)-4 AS ng
      |      FROM ttk, UNNEST(generate_series(1, len(ws)-4)) t(i)
      |      WHERE len(ws) >= 5),
      |twm AS (SELECT doc_id, pos, ng,
      |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |       FROM tg),
      |tfp AS (SELECT DISTINCT doc_id, fp FROM twm
      |        WHERE pos <= greatest(ng-4, 0)),
      |etk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM ev),
      |eg AS (SELECT doc_id, i-1 AS pos,
      |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
      |          AS BIGINT) AS h,
      |        len(ws)-4 AS ng
      |      FROM etk, UNNEST(generate_series(1, len(ws)-4)) t(i)
      |      WHERE len(ws) >= 5),
      |ewm AS (SELECT doc_id, pos, ng,
      |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |       FROM eg),
      |efp AS (SELECT DISTINCT fp FROM ewm
      |        WHERE pos <= greatest(ng-4, 0)),
      |hits AS (SELECT t.doc_id, COUNT(*) AS n_overlap
      |         FROM tfp t JOIN efp e USING (fp) GROUP BY 1)""".stripMargin

  private val spanDecontamCtes: String = spanDecontamCtesFrom(
    "SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0")

  /** l111's replay: the same span-decontamination chain over the
    * LEAK-INJECTED train corpus (every 25th train doc — doc_id % 25 =
    * 7, never an eval doc — carries the first 200 chars of eval doc 0,
    * so the routed leak set is non-empty at every shipped SF), plus
    * the crawl-drop column. The store is static, so the streaming
    * guard's per-drop union must equal this whole-train batch run. */
  private val streamDecontamSql: String = spanDecontamCtesFrom(
    "SELECT doc_id, CASE WHEN doc_id % 25 = 7 THEN text || ' ' || " +
      "(SELECT substr(text, 1, 200) FROM documents WHERE doc_id = 0) " +
      "ELSE text END AS text FROM documents WHERE doc_id % 50 <> 0") +
    """,
      |cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM tfp GROUP BY 1)
      |SELECT tr.doc_id,
      |  COALESCE(cnt.n_fp, 0) AS n_fp,
      |  COALESCE(hits.n_overlap, 0) AS n_overlap,
      |  COALESCE(hits.n_overlap, 0) >= 2 AS contaminated,
      |  CAST(tr.doc_id % 4 AS BIGINT) AS ingest_batch
      |FROM tr LEFT JOIN cnt ON cnt.doc_id = tr.doc_id
      |        LEFT JOIN hits ON hits.doc_id = tr.doc_id
      |ORDER BY tr.doc_id""".stripMargin

  /** l117's replay: the l111 winnow chain with TWO eval stores and the
    * drop-conditional join — a doc's verdict reads the store its drop
    * ingested under (v1 = doc_id % 50 == 0 for batches 0-1; v2 adds
    * % 50 == 25 for batches 2-3). `in_v1` flags, per distinct eval
    * fingerprint, whether any v1 doc carries it, so both stores fold
    * into one join. */
  private val deconRefreshSql: String =
    """WITH tr AS (SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 2 THEN text || ' ' ||
      |           (SELECT substr(text, 1, 200) FROM documents WHERE doc_id = 0)
      |         WHEN doc_id % 5 = 3 THEN text || ' ' ||
      |           (SELECT substr(text, 1, 200) FROM documents WHERE doc_id = 25)
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 50 <> 0 AND doc_id % 50 <> 25),
      |ev AS (SELECT doc_id, text FROM documents
      |       WHERE doc_id % 50 = 0 OR doc_id % 50 = 25),
      |ttk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM tr),
      |tg AS (SELECT doc_id, i-1 AS pos,
      |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
      |          AS BIGINT) AS h,
      |        len(ws)-4 AS ng
      |      FROM ttk, UNNEST(generate_series(1, len(ws)-4)) t(i)
      |      WHERE len(ws) >= 5),
      |twm AS (SELECT doc_id, pos, ng,
      |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |       FROM tg),
      |tfp AS (SELECT DISTINCT doc_id, fp FROM twm
      |        WHERE pos <= greatest(ng-4, 0)),
      |etk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM ev),
      |eg AS (SELECT doc_id, i-1 AS pos,
      |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
      |          AS BIGINT) AS h,
      |        len(ws)-4 AS ng
      |      FROM etk, UNNEST(generate_series(1, len(ws)-4)) t(i)
      |      WHERE len(ws) >= 5),
      |ewm AS (SELECT doc_id, pos, ng,
      |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |       FROM eg),
      |efp AS (SELECT fp, BOOL_OR(doc_id % 50 = 0) AS in_v1
      |        FROM (SELECT DISTINCT doc_id, fp FROM ewm
      |              WHERE pos <= greatest(ng-4, 0)) e0 GROUP BY 1),
      |hits AS (SELECT t.doc_id,
      |           COUNT(*) FILTER (WHERE e.in_v1) AS ov1,
      |           COUNT(*) AS ov2
      |         FROM tfp t JOIN efp e USING (fp) GROUP BY 1),
      |cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM tfp GROUP BY 1)
      |SELECT tr.doc_id, COALESCE(cnt.n_fp, 0) AS n_fp,
      |  CASE WHEN tr.doc_id % 4 <= 1 THEN COALESCE(hits.ov1, 0)
      |       ELSE COALESCE(hits.ov2, 0) END AS n_overlap,
      |  CASE WHEN tr.doc_id % 4 <= 1 THEN COALESCE(hits.ov1, 0)
      |       ELSE COALESCE(hits.ov2, 0) END >= 2 AS contaminated,
      |  CAST(tr.doc_id % 4 AS BIGINT) AS ingest_batch
      |FROM tr LEFT JOIN cnt ON cnt.doc_id = tr.doc_id
      |        LEFT JOIN hits ON hits.doc_id = tr.doc_id
      |ORDER BY tr.doc_id""".stripMargin

  /** The perceptual chain's CTE body, parameterized by the variant
    * expression (the one moving part between fire and hold) — no
    * leading WITH, ends at `hd` (dHash Hamming per candidate pair);
    * shared by the pair oracles (l116/l118, which append the aHash leg
    * + final select) and the keep-best retention oracle (l119, which
    * prepends WITH RECURSIVE for its closure tail). ASCII makes `ord`
    * over char positions exactly the byte stream; the %128 truncation
    * makes the 64 cells equal-length, so the engine replays the
    * cross-multiplied mean comparisons as plain sum comparisons
    * (sum_b·len > tot·len_b reduces to 64·sum_b > tot at equal cell
    * lengths — value-identical, each form the one its engine runs
    * cheapest, the blobNearDupSql precedent). Hamming distances and
    * band words are folded from the same bit rows, so no engine ever
    * shifts a negative 64-bit hash. */
  private def perceptualCtes(variantExpr: String): String =
    s"""t0 AS (SELECT doc_id, substr(text, 1, (length(text)//128)*128) AS t
       |            FROM documents WHERE length(text) >= 128),
       |base AS (
       |  SELECT doc_id, t FROM t0
       |  UNION ALL
       |  SELECT doc_id + 1000000, $variantExpr AS t
       |  FROM t0 WHERE doc_id % 50 = 0),
       |chars AS (SELECT doc_id, (i-1)//(length(t)//64) AS b,
       |            ord(substr(t, i, 1)) AS v
       |          FROM base, UNNEST(generate_series(1, length(t))) s(i)),
       |bsum AS (SELECT doc_id, b, SUM(v) AS sb FROM chars GROUP BY 1, 2),
       |tot AS (SELECT doc_id, SUM(sb) AS tt FROM bsum GROUP BY 1),
       |abits AS (SELECT s.doc_id, s.b,
       |            CASE WHEN s.sb * 64 > t.tt THEN 1 ELSE 0 END AS bit
       |          FROM bsum s JOIN tot t USING (doc_id)),
       |dbits AS (SELECT a.doc_id, a.b,
       |            CASE WHEN a.sb > c.sb THEN 1 ELSE 0 END AS bit
       |          FROM bsum a JOIN bsum c ON c.doc_id = a.doc_id
       |           AND c.b = (a.b+1) % 64),
       |bands AS (SELECT doc_id, b//16 AS bno,
       |            CAST(SUM(bit << (b%16)) AS BIGINT) AS bval
       |          FROM dbits GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |         FROM bands x JOIN bands y
       |           ON x.bno = y.bno AND x.bval = y.bval AND x.doc_id < y.doc_id),
       |hd AS (SELECT c.da, c.db,
       |         SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hamming
       |       FROM cand c JOIN dbits p ON p.doc_id = c.da
       |       JOIN dbits q ON q.doc_id = c.db AND q.b = p.b GROUP BY 1, 2)""".stripMargin

  private def perceptualSql(variantExpr: String): String =
    "WITH " + perceptualCtes(variantExpr) + ",\n" +
    """ha AS (SELECT c.da, c.db,
      |         SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hamming_a
      |       FROM cand c JOIN abits p ON p.doc_id = c.da
      |       JOIN abits q ON q.doc_id = c.db AND q.b = p.b GROUP BY 1, 2)
      |SELECT hd.da, hd.db, CAST(hd.hamming AS BIGINT) AS hamming,
      |  CAST(ha.hamming_a AS BIGINT) AS hamming_a
      |FROM hd JOIN ha USING (da, db) WHERE hd.hamming <= 3
      |ORDER BY 1, 2""".stripMargin

  /** l119: the fire-variant perceptual pair chain + the l17
    * recursive-CTE closure + the size/id argmax retention (the l114
    * tail, scored on the truncated payload's length — char == byte on
    * this ASCII corpus). */
  private def perceptualKeepBestSql(variantExpr: String): String =
    "WITH RECURSIVE " + perceptualCtes(variantExpr) + ",\n" +
    """pairs AS (SELECT da, db FROM hd WHERE hamming <= 3),
      |edges AS (SELECT da AS x, db AS y FROM pairs
      |          UNION SELECT db, da FROM pairs),
      |nodes AS (SELECT DISTINCT x AS id FROM edges),
      |reach AS (SELECT id, id AS r FROM nodes
      |          UNION
      |          SELECT e.x, reach.r FROM edges e JOIN reach ON reach.id = e.y),
      |lbl AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
      |members AS (SELECT lbl.rep, lbl.id, length(b.t) AS nb
      |            FROM lbl JOIN base b ON b.doc_id = lbl.id),
      |best AS (SELECT rep, id AS keep_id FROM (
      |           SELECT rep, id, ROW_NUMBER() OVER (PARTITION BY rep
      |             ORDER BY nb DESC, id) AS rk FROM members) WHERE rk = 1)
      |SELECT b.doc_id, COALESCE(best.keep_id, b.doc_id) AS keep_id,
      |  CAST(b.doc_id = COALESCE(best.keep_id, b.doc_id) AS INT) AS kept
      |FROM base b LEFT JOIN lbl ON lbl.id = b.doc_id
      |            LEFT JOIN best ON best.rep = lbl.rep
      |ORDER BY b.doc_id""".stripMargin

  /** Shared POSITIONED two-corpus winnow chain for the leak-span pair
    * (l100 report / l101 redaction): the l91 struct-min selection
    * (argmin-by-hash, rightmost tie) replayed on both sides of the
    * doc_id % 50 benchmark split, matches joined cross-corpus, island
    * breaks computed per (pair, diagonal) — ends at `isl`. */
  private val leakSpanCtes: String =
    """WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
      |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |ttk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM tr),
      |tg AS (SELECT doc_id, i-1 AS pos,
      |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
      |          AS BIGINT) AS h,
      |        len(ws)-4 AS ng
      |      FROM ttk, UNNEST(generate_series(1, len(ws)-4)) t(i)
      |      WHERE len(ws) >= 5),
      |twm AS (SELECT doc_id, pos, ng,
      |        MIN({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      |       FROM tg),
      |tsel AS (SELECT DISTINCT doc_id, CAST(-(sel.np) AS BIGINT) AS spos,
      |           sel.h AS fp
      |         FROM twm WHERE pos <= greatest(ng-4, 0)),
      |etk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM ev),
      |eg AS (SELECT doc_id, i-1 AS pos,
      |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
      |          AS BIGINT) AS h,
      |        len(ws)-4 AS ng
      |      FROM etk, UNNEST(generate_series(1, len(ws)-4)) t(i)
      |      WHERE len(ws) >= 5),
      |ewm AS (SELECT doc_id, pos, ng,
      |        MIN({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      |       FROM eg),
      |esel AS (SELECT DISTINCT doc_id, CAST(-(sel.np) AS BIGINT) AS spos,
      |           sel.h AS fp
      |         FROM ewm WHERE pos <= greatest(ng-4, 0)),
      |m AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
      |        t.spos AS pa, e.spos AS pb, t.spos - e.spos AS diag
      |      FROM tsel t JOIN esel e ON t.fp = e.fp),
      |br AS (SELECT *, CASE WHEN pa - LAG(pa) OVER (PARTITION BY train_id,
      |                        eval_id, diag ORDER BY pa) <= 8
      |                      THEN 0 ELSE 1 END AS brk FROM m),
      |isl AS (SELECT *, SUM(brk) OVER (PARTITION BY train_id, eval_id, diag
      |          ORDER BY pa
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |        FROM br)""".stripMargin

  /** The l106/l108 injected blob corpus: every doc's UTF-8 bytes as a
    * BINARY payload plus, for every 50th doc, a re-encoded variant
    * (id + 1,000,000) with a 4-byte header prepended and two trailing
    * chars trimmed — a distinct sha-256 that exact blob dedup can
    * never collapse, at ~0.96+ byte-shingle Jaccard. Must stay
    * byte-identical to the SQL replay in `blobNearDupSql`. */
  /** `idOffset` defaults to the l106/l108 batch corpus; l110's
    * streaming corpus uses 1000001 so every variant's doc_id % 4 drop
    * lands one drop AFTER its original (doc_id % 50 == 0 puts
    * originals in drops {0, 2}, +1 shifts variants to {1, 3}) — the
    * new-vs-seen loop only ever probes later-against-earlier. */
  /** Injection shapes for the l116/l118 perceptual corpus. */
  private sealed trait PerceptualVariant
  /** Adjacent byte pairs swapped: zero shared byte 8-grams, every
    * 64-cell block sum preserved exactly (raster identical). */
  private case object SwapVariant extends PerceptualVariant
  /** l106's byte-near-dup shape re-truncated ("HDR|" prepended, tail
    * trimmed): byte-shingle Jaccard ~0.95, raster scrambled (the
    * 4-byte shift moves every cell's content — measured dHash Hamming
    * 27-44). */
  private case object HeaderShiftVariant extends PerceptualVariant

  /** The l116/l118 perceptual blob corpus: payloads are each doc's
    * UTF-8 bytes TRUNCATED to a multiple of 128 (so the 64-cell
    * downscale grid gets even-offset, even-length cells — what makes
    * the swap injection sum-preserving), docs under 128 bytes dropped;
    * every 50th doc injects a `variant` twin at id + 1,000,000. The
    * corpus is pure printable ASCII, so char positions ARE byte
    * positions on both engines. Must stay byte-identical to the SQL
    * replay in the l116/l118 oracles. */
  private def perceptualCorpus(docs: DataFrame,
                               variant: PerceptualVariant): DataFrame = {
    val trunc = docs
      .select(col("doc_id"),
        col("text").substr(lit(1),
          (floor(length(col("text")) / 128) * 128).cast("int")).as("t"))
      .filter(length(col("t")) >= 128)
    val vt = variant match {
      case SwapVariant =>
        array_join(transform(
          sequence(lit(0), (length(col("t")) / 2).cast("int") - 1),
          i => concat(col("t").substr(i * 2 + 2, lit(1)),
            col("t").substr(i * 2 + 1, lit(1)))), "")
      case HeaderShiftVariant =>
        concat(lit("HDR|"),
          col("t").substr(lit(1), length(col("t")) - 4))
    }
    trunc.select(col("doc_id"), col("t").cast("binary").as("payload"))
      .unionAll(trunc.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          vt.cast("binary").as("payload")))
  }

  private def blobCorpus(docs: DataFrame,
                         idOffset: Long = 1000000L): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
      .unionAll(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + idOffset).as("doc_id"),
          concat(lit("HDR|"), col("text").substr(lit(1),
            greatest(length(col("text")) - 2, lit(0))))
            .cast("binary").as("payload")))

  /** The byte-shingle near-dup chain replayed in DuckDB: injected blob
    * corpus, hex byte 8-grams, optional hot-bucket erase (df over
    * ndocs/2 — the l106 FIRE universe; l108 replays the plain one),
    * the FULL 16-seed minhash family (the text oracles use its first
    * 8), 4 strided bands of 4 (seed % 4 — the tuner's r for target
    * 0.7), verified Jaccard > 0.7. DuckDB slices the whole-payload hex
    * string; Spark hexes an n-byte binary slice — value-identical
    * (hex(substring(p, i+1, n)) == substr(hex(p), 2i+1, 2n)), each
    * form the one its engine executes efficiently. */
  /** The byte-shingle chain's CTE body (no leading WITH, ends at
    * `inter`) — shared by the pair oracles (l106/l108) and the
    * keep-best retention oracle (l114, which prepends WITH RECURSIVE
    * for its closure tail). */
  private def blobNearDupCtes(capped: Boolean): String = {
    val universe =
      if (capped)
        """hot AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY 1)
          |        WHERE df > (SELECT COUNT(*)//2 FROM documents)),
          |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),""".stripMargin
      else "sh AS (SELECT * FROM sh0),"
    s"""base AS (
       |  SELECT doc_id, encode(text) AS payload FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    encode('HDR|' || substr(text, 1, greatest(length(text)-2, 0)))
       |  FROM documents WHERE doc_id % 50 = 0),
       |hx AS (SELECT doc_id, octet_length(payload) AS nb,
       |         upper(hex(payload)) AS h FROM base),
       |sh0 AS (SELECT DISTINCT doc_id, substr(h, i*2+1, 16) AS s
       |        FROM hx, UNNEST(generate_series(0, nb - 8)) t(i)
       |        WHERE nb >= 8),
       |$universe
       |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |mh AS (SELECT doc_id, seed,
       |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021,
       |               14939,58057,23371,60943,3571,38833,50993,17389][seed+1]
       |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
       |              [27179,43691,20117,51347,7129,63577,31769,44201,
       |               29527,12641,54679,8363,47507,64151,21841,36653][seed+1]
       |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
       |             % 1099511627791) AS mh
       |       FROM sh, UNNEST(generate_series(0, 15)) t(seed) GROUP BY 1, 2),
       |bands AS (SELECT doc_id, seed % 4 AS band,
       |            array_to_string(list_sort(list(mh)), '|') AS bsig
       |          FROM mh GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |inter AS (SELECT c.da, c.db, COUNT(*) AS i FROM cand c
       |          JOIN sh a ON a.doc_id = c.da
       |          JOIN sh b ON b.doc_id = c.db AND b.s = a.s GROUP BY 1, 2)""".stripMargin
  }

  private def blobNearDupSql(capped: Boolean): String =
    "WITH " + blobNearDupCtes(capped) + "\n" +
    """SELECT da, db, CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) AS jaccard
      |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
      |WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.7
      |ORDER BY da, db""".stripMargin

  /** l114: l106's fire-universe pair chain + the l17 recursive-CTE
    * closure + the size/id argmax retention — every corpus blob with
    * its group's keeper (max payload bytes, id tiebreak), singletons
    * keeping themselves. */
  private def blobKeepBestSql: String =
    "WITH RECURSIVE " + blobNearDupCtes(capped = true) + ",\n" +
    """pairs AS (SELECT da, db FROM inter
      |          JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
      |          WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.7),
      |edges AS (SELECT da AS x, db AS y FROM pairs
      |          UNION SELECT db, da FROM pairs),
      |nodes AS (SELECT DISTINCT x AS id FROM edges),
      |reach AS (SELECT id, id AS r FROM nodes
      |          UNION
      |          SELECT e.x, reach.r FROM edges e JOIN reach ON reach.id = e.y),
      |lbl AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
      |members AS (SELECT lbl.rep, lbl.id, hx.nb
      |            FROM lbl JOIN hx ON hx.doc_id = lbl.id),
      |best AS (SELECT rep, id AS keep_id FROM (
      |           SELECT rep, id, ROW_NUMBER() OVER (PARTITION BY rep
      |             ORDER BY nb DESC, id) AS rk FROM members) WHERE rk = 1)
      |SELECT b.doc_id, COALESCE(best.keep_id, b.doc_id) AS keep_id,
      |  CAST(b.doc_id = COALESCE(best.keep_id, b.doc_id) AS INT) AS kept
      |FROM base b LEFT JOIN lbl ON lbl.id = b.doc_id
      |            LEFT JOIN best ON best.rep = lbl.rep
      |ORDER BY b.doc_id""".stripMargin

  /** The l103/l104 injected messy URLs: four doc_id-derived variants,
    * three of which canonicalize identically per doc_id-div-4 group.
    * Must stay byte-identical to the SQL replay in `urlCanonCtes`. */
  private def injectedUrl: org.apache.spark.sql.Column = {
    val base = expr("doc_id div 4").cast("string")
    when(col("doc_id") % 4 === 0,
      concat(lit("HTTPS://WWW.Example.COM:443/site/"), base,
        lit("/page?utm_source=feed#top")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://example.com/site/"), base, lit("/page")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://example.com//site/"), base,
          lit("/page/?utm_campaign=x")))
      .otherwise(
        concat(lit("http://example.com:80/site/"), base, lit("/page?ref="),
          (col("doc_id") % 5).cast("string")))
  }

  /** The canonicalization chain replayed step for step in DuckDB (the
    * 'g' flags mirror Spark's replace-all semantics; no capture-group
    * backreferences, so the patterns are engine-portable). Ends at
    * `s5` with (doc_id, url, pfx, rest). */
  private val urlCanonCtes: String =
    """WITH u AS (SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/site/' || CAST(doc_id // 4 AS VARCHAR) || '/page?utm_source=feed#top'
      |      WHEN 1 THEN 'https://example.com/site/' || CAST(doc_id // 4 AS VARCHAR) || '/page'
      |      WHEN 2 THEN 'https://example.com//site/' || CAST(doc_id // 4 AS VARCHAR) || '/page/?utm_campaign=x'
      |      ELSE 'http://example.com:80/site/' || CAST(doc_id // 4 AS VARCHAR) || '/page?ref=' || CAST(doc_id % 5 AS VARCHAR)
      |    END AS url
      |  FROM documents),
      |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '', 'g') AS nf
      |       FROM u),
      |s2 AS (SELECT *, lower(regexp_extract(nf, '^[A-Za-z]+://[^/?#]*', 0)) AS pfx0
      |       FROM s1),
      |s3 AS (SELECT *, substring(nf, length(pfx0)+1) AS rest0,
      |         regexp_replace(pfx0, '://www\.', '://', 'g') AS pfx1 FROM s2),
      |s4 AS (SELECT *, CASE WHEN pfx1 LIKE 'https://%'
      |                        THEN regexp_replace(pfx1, ':443$', '')
      |                      WHEN pfx1 LIKE 'http://%'
      |                        THEN regexp_replace(pfx1, ':80$', '')
      |                      ELSE pfx1 END AS pfx FROM s3),
      |sq AS (SELECT *, strpos(rest0, '?') AS qpos FROM s4),
      |sp AS (SELECT *,
      |         CASE WHEN qpos > 0 THEN substring(rest0, 1, qpos - 1)
      |              ELSE rest0 END AS path0,
      |         CASE WHEN qpos > 0 THEN substring(rest0, qpos)
      |              ELSE '' END AS qs0 FROM sq),
      |s5 AS (SELECT *,
      |         regexp_replace(regexp_replace(path0, '/{2,}', '/', 'g'),
      |           '/$', '', 'g')
      |         || regexp_replace(regexp_replace(regexp_replace(qs0,
      |              '&utm_[^&]*', '', 'g'), '^\?utm_[^&]*&', '?', 'g'),
      |              '^\?utm_[^&]*$', '', 'g') AS rest FROM sp)""".stripMargin

  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // l62 serves from the PERSISTED index; floats round-trip parquet
    // bit-exactly, so its contract is l55's recompute oracle verbatim
    base +
      ("l62_ann_index_serve" -> base("l55_ivf_pq")) +
      // l83/l84 grow the index from the 16 training vectors by four
      // appends, then fold (l83) or hold (l84): the quantizers are the
      // 16 lowest vec_ids either way — exactly what l55's recompute
      // derives — so both directions' serve contract is l55's
      // whole-corpus oracle verbatim; the decisions are pinned by
      // in-query requires on the probe and the physical layout
      ("l83_ann_auto_compact" -> base("l55_ivf_pq")) +
      ("l84_ann_compact_hold" -> base("l55_ivf_pq")) +
      // l93 drives the same append/fold lifecycle through the REAL
      // streaming loop (checkpointed AvailableNow drops, in-loop fold);
      // the quantizers are still the 16 training vectors, so the
      // stream-built index must serve l55's oracle verbatim
      ("l93_stream_ann_ingest" -> base("l55_ivf_pq")) +
      // l85: the same winnowing pipeline replayed in SQL — positioned
      // 5-token grams, the minhash family's 40-bit md5 hash, min over
      // each full 4-gram window (pos 0-based on both sides; docs with
      // fewer than w grams keep their single truncated-window min via
      // the greatest(ng-w, 0) gate), distinct per doc, pair join
      ("l85_winnow_pairs" -> winnowPairsSql) +
      // l87 runs the CAPPED pair generator on the natural corpus: the
      // measured hottest fingerprint (df <= 4 at every shipped SF)
      // holds below the df-8 ceiling, the prune is a structural no-op
      // (no anti-join stage is planned), and the contract is l85's
      // uncapped oracle verbatim; the hold decision is pinned by the
      // in-query require
      ("l87_winnow_cap_hold" -> winnowPairsSql) +
      // l86: the same pipeline over the boilerplate-injected corpus,
      // WITH the df cap replayed in SQL (buckets with df > 8 erased
      // before the pair join) — the green hash row proves the capped
      // pair set matches, not merely that the cap fired
      ("l86_winnow_hot_cap" ->
        """WITH docs2 AS (SELECT doc_id,
          |        CASE WHEN doc_id % 3 = 0
          |             THEN text || ' standard license header text appended by the crawler pipeline every run'
          |             ELSE text END AS text
          |      FROM documents),
          |toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
          |         FROM docs2),
          |g AS (SELECT doc_id, i-1 AS pos,
          |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
          |          AS BIGINT) AS h,
          |        len(ws)-4 AS ng
          |      FROM toks, UNNEST(generate_series(1, len(ws)-4)) t(i)
          |      WHERE len(ws) >= 5),
          |wm AS (SELECT doc_id, pos, ng,
          |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
          |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          |       FROM g),
          |fps AS (SELECT DISTINCT doc_id, fp FROM wm
          |        WHERE pos <= greatest(ng-4, 0)),
          |dfx AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY 1),
          |kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfx USING (fp)
          |         WHERE df <= 8),
          |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_shared
          |          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |          GROUP BY 1, 2)
          |SELECT da, db, n_shared FROM pairs WHERE n_shared >= 2
          |ORDER BY da, db""".stripMargin) +
      // l90 runs the capped Jaccard generator holding below its df-50
      // ceiling on the natural corpus (hottest shingle df 25): output
      // contract is l5's uncapped oracle verbatim, hold pinned in-query
      ("l90_jaccard_cap_hold" -> base("l5_dedup_ngram")) +
      // l89: l5's pipeline over the boilerplate-injected corpus with
      // the df cap erasing hot shingles from the universe (both the
      // intersection and the per-doc set sizes) before the pair join
      ("l89_jaccard_hot_cap" ->
        """WITH docs2 AS (SELECT doc_id,
          |        CASE WHEN doc_id % 3 = 0
          |             THEN text || ' standard license header text appended by the crawler pipeline every run'
          |             ELSE text END AS text
          |      FROM documents),
          |d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM docs2),
          |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
          |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
          |       WHERE len(ws) >= 3),
          |dfx AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
          |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfx USING (s)
          |         WHERE df <= 50),
          |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY 1),
          |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
          |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
          |          GROUP BY 1, 2)
          |SELECT da, db, CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) AS jaccard
          |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
          |WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8
          |ORDER BY da, db""".stripMargin) +
      // l88: positioned selection — per window the struct min
      // {h, -pos} is argmin-by-hash with the RIGHTMOST position on
      // ties, exactly the Spark side's min(struct(h, -pos)); offsets
      // join per shared fingerprint
      ("l88_winnow_spans" ->
        """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
          |              FROM documents),
          |g AS (SELECT doc_id, i-1 AS pos,
          |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
          |          AS BIGINT) AS h,
          |        len(ws)-4 AS ng
          |      FROM toks, UNNEST(generate_series(1, len(ws)-4)) t(i)
          |      WHERE len(ws) >= 5),
          |wm AS (SELECT doc_id, pos, ng,
          |        MIN({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
          |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
          |       FROM g),
          |sels AS (SELECT DISTINCT doc_id, CAST(-(sel.np) AS BIGINT) AS spos,
          |           sel.h AS fp
          |         FROM wm WHERE pos <= greatest(ng-4, 0))
          |SELECT a.doc_id AS da, b.doc_id AS db, a.fp AS fp,
          |  a.spos AS pa, b.spos AS pb
          |FROM sels a JOIN sels b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |ORDER BY da, db, fp, pa, pb""".stripMargin) +
      // l91: l88's positioned selections joined per fingerprint, then
      // the SAME diagonal/island merge replayed in SQL — constant
      // pa−pb groups, islands split where consecutive selections sit
      // more than 8 tokens apart, interval ends covering the full
      // 5-gram (+4)
      ("l91_winnow_intervals" ->
        """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
          |              FROM documents),
          |g AS (SELECT doc_id, i-1 AS pos,
          |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
          |          AS BIGINT) AS h,
          |        len(ws)-4 AS ng
          |      FROM toks, UNNEST(generate_series(1, len(ws)-4)) t(i)
          |      WHERE len(ws) >= 5),
          |wm AS (SELECT doc_id, pos, ng,
          |        MIN({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
          |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
          |       FROM g),
          |sels AS (SELECT DISTINCT doc_id, CAST(-(sel.np) AS BIGINT) AS spos,
          |           sel.h AS fp
          |         FROM wm WHERE pos <= greatest(ng-4, 0)),
          |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.spos AS pa,
          |        b.spos AS pb, a.spos - b.spos AS diag
          |      FROM sels a JOIN sels b ON a.fp = b.fp AND a.doc_id < b.doc_id),
          |br AS (SELECT *, CASE WHEN pa - LAG(pa) OVER (PARTITION BY da, db, diag
          |                        ORDER BY pa) <= 8
          |                      THEN 0 ELSE 1 END AS brk FROM m),
          |isl AS (SELECT *, SUM(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
          |        FROM br)
          |SELECT da, db, MIN(pa) AS a_start, MAX(pa)+4 AS a_end,
          |  MIN(pb) AS b_start, MAX(pb)+4 AS b_end,
          |  CAST(COUNT(*) AS BIGINT) AS n_fps
          |FROM isl GROUP BY da, db, diag, isl HAVING COUNT(*) >= 2
          |ORDER BY da, db, a_start, b_start""".stripMargin) +
      // l92: the whole-corpus winnow pair join (l85's CTE chain),
      // restricted to the cross-batch pairs the loop probes — the doc
      // in the LATER doc_id%4 drop is the prober (new_id), the earlier
      // one is the seen corpus; same-drop pairs are never probed
      ("l92_stream_winnow" -> streamWinnowSql) +
      // l96: the winnow pair join with per-doc fingerprint counts and
      // the containment division replayed — exact BIGINT inputs, one
      // correctly-rounded division per pair on both engines
      ("l96_winnow_containment" ->
        """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
          |              FROM documents),
          |g AS (SELECT doc_id, i-1 AS pos,
          |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
          |          AS BIGINT) AS h,
          |        len(ws)-4 AS ng
          |      FROM toks, UNNEST(generate_series(1, len(ws)-4)) t(i)
          |      WHERE len(ws) >= 5),
          |wm AS (SELECT doc_id, pos, ng,
          |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
          |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          |       FROM g),
          |fps AS (SELECT DISTINCT doc_id, fp FROM wm
          |        WHERE pos <= greatest(ng-4, 0)),
          |cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY 1),
          |pr AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_shared
          |       FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |       GROUP BY 1, 2)
          |SELECT da, db, n_shared,
          |  CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) AS containment
          |FROM pr JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
          |WHERE CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) >= 0.8
          |ORDER BY da, db""".stripMargin) +
      // l95 arms the cap on the natural corpus: every turn's df stays
      // under the ceiling (prefix df <= full-corpus df <= 4), the
      // probe is a no-op, so the contract is l92's uncapped oracle
      // verbatim; the hold precondition is pinned in-query
      ("l95_stream_cap_hold" -> streamWinnowSql) +
      // l94: the per-turn cap replayed in SQL — for each turn t, df is
      // measured over the corpus accumulated THROUGH t (batch <= t),
      // buckets over 8 are erased from both probe sides, and the
      // turn's pairs join the kept batch-t docs against kept earlier
      // docs; verdicts accumulate per turn (an early pair survives
      // even if its fingerprint turns hot later)
      ("l94_stream_winnow_cap" ->
        """WITH docs2 AS (SELECT doc_id,
          |        CASE WHEN doc_id % 3 = 0
          |             THEN text || ' standard license header text appended by the crawler pipeline every run'
          |             ELSE text END AS text
          |      FROM documents),
          |toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
          |         FROM docs2),
          |g AS (SELECT doc_id, i-1 AS pos,
          |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
          |          AS BIGINT) AS h,
          |        len(ws)-4 AS ng
          |      FROM toks, UNNEST(generate_series(1, len(ws)-4)) t(i)
          |      WHERE len(ws) >= 5),
          |wm AS (SELECT doc_id, pos, ng,
          |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
          |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          |       FROM g),
          |fps AS (SELECT DISTINCT doc_id, fp FROM wm
          |        WHERE pos <= greatest(ng-4, 0)),
          |b AS (SELECT doc_id, fp, doc_id % 4 AS batch FROM fps),
          |turns AS (SELECT UNNEST(generate_series(0, 3)) AS t),
          |dfx AS (SELECT turns.t, b.fp, COUNT(*) AS df
          |        FROM b, turns WHERE b.batch <= turns.t
          |        GROUP BY turns.t, b.fp),
          |kept AS (SELECT d.t, b.doc_id, b.fp, b.batch
          |         FROM b JOIN dfx d ON d.fp = b.fp AND b.batch <= d.t
          |         WHERE d.df <= 8),
          |pr AS (SELECT n.doc_id AS new_id, s.doc_id AS seen_id,
          |         COUNT(*) AS n_shared
          |       FROM kept n JOIN kept s
          |         ON n.t = s.t AND n.fp = s.fp
          |        AND n.batch = n.t AND s.batch < n.t
          |       GROUP BY 1, 2)
          |SELECT new_id, seen_id, n_shared,
          |  CAST(new_id % 4 AS BIGINT) AS ingest_batch
          |FROM pr WHERE n_shared >= 2
          |ORDER BY new_id, seen_id""".stripMargin) +
      // l97: the l96 containment pipeline extended with the keep-best
      // action replayed — per pair at containment >= 0.8 the smaller
      // fingerprint set is the contained side (ties drop the larger
      // id), the distinct contained set anti-joins the corpus
      ("l97_containment_dedup" ->
        """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
          |              FROM documents),
          |g AS (SELECT doc_id, i-1 AS pos,
          |        CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 10)
          |          AS BIGINT) AS h,
          |        len(ws)-4 AS ng
          |      FROM toks, UNNEST(generate_series(1, len(ws)-4)) t(i)
          |      WHERE len(ws) >= 5),
          |wm AS (SELECT doc_id, pos, ng,
          |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
          |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          |       FROM g),
          |fps AS (SELECT DISTINCT doc_id, fp FROM wm
          |        WHERE pos <= greatest(ng-4, 0)),
          |cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY 1),
          |pr AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_shared
          |       FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |       GROUP BY 1, 2),
          |contained AS (SELECT DISTINCT
          |    CASE WHEN ca.n_fp < cb.n_fp THEN da ELSE db END AS doc_id
          |  FROM pr JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
          |  WHERE CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) >= 0.8)
          |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
          |WHERE d.doc_id NOT IN (SELECT doc_id FROM contained)
          |ORDER BY doc_id""".stripMargin) +
      // l98: the winnowing replay on both sides of the benchmark
      // split; per train doc its fingerprint count and how many of
      // those the eval corpus also selected; flag = absolute evidence
      // count >= 2 (docs under k tokens surface with n_fp 0, clean)
      ("l98_span_decontaminate" -> (spanDecontamCtes +
        """,
          |cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM tfp GROUP BY 1)
          |SELECT tr.doc_id,
          |  COALESCE(cnt.n_fp, 0) AS n_fp,
          |  COALESCE(hits.n_overlap, 0) AS n_overlap,
          |  COALESCE(hits.n_overlap, 0) >= 2 AS contaminated
          |FROM tr LEFT JOIN cnt ON cnt.doc_id = tr.doc_id
          |        LEFT JOIN hits ON hits.doc_id = tr.doc_id
          |ORDER BY tr.doc_id""".stripMargin)) +
      // l99: the filtering form — train rows below the evidence
      // threshold, metadata intact
      ("l99_span_decontaminate_filter" -> (spanDecontamCtes +
        """
          |SELECT d.doc_id, d.lang, d.n_chars
          |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
          |WHERE d.doc_id % 50 <> 0 AND COALESCE(h.n_overlap, 0) < 2
          |ORDER BY d.doc_id""".stripMargin)) +
      // l111: the streaming ingest guard's verdicts — the batch l98
      // chain over the leak-injected corpus, plus the drop column (the
      // store is static, so per-drop union == whole-train batch run)
      ("l111_stream_decontaminate" -> streamDecontamSql) +
      // l100: the l91 positioned-selection + diagonal/island chain run
      // on both sides of the benchmark split — the same struct-min
      // (argmin-by-hash, rightmost tie) replay, matches joined
      // cross-corpus, islands merged per (pair, diagonal)
      ("l100_leak_spans" -> (leakSpanCtes +
        """
          |SELECT train_id, eval_id, MIN(pa) AS t_start, MAX(pa)+4 AS t_end,
          |  MIN(pb) AS e_start, MAX(pb)+4 AS e_end,
          |  CAST(COUNT(*) AS BIGINT) AS n_fps
          |FROM isl GROUP BY train_id, eval_id, diag, isl HAVING COUNT(*) >= 2
          |ORDER BY train_id, eval_id, t_start, e_start""".stripMargin)) +
      // l101: the same chain folded to per-train-doc cut intervals,
      // then the redaction replayed — tokens covered by an interval
      // removed, survivors re-joined with single spaces in position
      // order (the canonical rebuild both engines share)
      ("l101_span_redact" -> (leakSpanCtes +
        """,
          |ivals AS (SELECT train_id, MIN(pa) AS t_start, MAX(pa)+4 AS t_end
          |          FROM isl GROUP BY train_id, eval_id, diag, isl
          |          HAVING COUNT(*) >= 2),
          |tk AS (SELECT doc_id, i-1 AS pos, ws[i] AS tok
          |       FROM ttk, UNNEST(generate_series(1, len(ws))) t(i)),
          |cov AS (SELECT DISTINCT tk.doc_id, tk.pos
          |        FROM tk JOIN ivals c ON c.train_id = tk.doc_id
          |         AND tk.pos BETWEEN c.t_start AND c.t_end),
          |keep AS (SELECT tk.doc_id, tk.pos, tk.tok
          |         FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id
          |          AND cov.pos = tk.pos
          |         WHERE cov.pos IS NULL),
          |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
          |          COUNT(*) AS n_keep
          |        FROM keep GROUP BY 1),
          |tot AS (SELECT doc_id, COUNT(*) AS n_tok FROM tk GROUP BY 1)
          |SELECT tr.doc_id, COALESCE(agg.text, '') AS text,
          |  COALESCE(tot.n_tok, 0) - COALESCE(agg.n_keep, 0) AS n_cut
          |FROM tr LEFT JOIN agg ON agg.doc_id = tr.doc_id
          |        LEFT JOIN tot ON tot.doc_id = tr.doc_id
          |ORDER BY tr.doc_id""".stripMargin)) +
      // l102: the same vocabulary-level blocked pipeline — distinct
      // values, last-word block, length-bound prefilter, classic
      // Levenshtein (identical DP in both engines)
      ("l102_fuzzy_pairs" ->
        """WITH v AS (SELECT DISTINCT p_name AS s FROM part),
          |b AS (SELECT s, split_part(s, ' ', -1) AS blk FROM v)
          |SELECT a.s AS va, b2.s AS vb,
          |  CAST(levenshtein(a.s, b2.s) AS BIGINT) AS dist
          |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.s < b2.s
          |WHERE abs(length(a.s) - length(b2.s)) <= 2
          |  AND levenshtein(a.s, b2.s) <= 2
          |ORDER BY va, vb""".stripMargin) +
      // l105: the l102 pair SQL + the same recursive-CTE closure the
      // l17 oracle uses, min label per component, singletons to
      // themselves, per-name row counts joined back
      ("l105_fuzzy_canonical" ->
        """WITH RECURSIVE v AS (SELECT DISTINCT p_name AS s FROM part),
          |b AS (SELECT s, split_part(s, ' ', -1) AS blk FROM v),
          |pairs AS (SELECT a.s AS va, b2.s AS vb
          |          FROM b a JOIN b b2 ON a.blk = b2.blk AND a.s < b2.s
          |          WHERE abs(length(a.s) - length(b2.s)) <= 2
          |            AND levenshtein(a.s, b2.s) <= 2),
          |edges AS (SELECT va AS x, vb AS y FROM pairs
          |          UNION SELECT vb, va FROM pairs),
          |nodes AS (SELECT DISTINCT x AS id FROM edges),
          |reach AS (SELECT id, id AS r FROM nodes
          |          UNION
          |          SELECT e.x, reach.r FROM edges e JOIN reach ON reach.id = e.y),
          |lbl AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
          |rc AS (SELECT p_name, COUNT(*) AS n_rows FROM part GROUP BY 1)
          |SELECT v.s AS p_name, COALESCE(lbl.rep, v.s) AS canonical, rc.n_rows
          |FROM v LEFT JOIN lbl ON lbl.id = v.s JOIN rc ON rc.p_name = v.s
          |ORDER BY p_name""".stripMargin) +
      // l106/l108: the byte-shingle near-dup chain, capped and plain
      // universes (fire and hold directions of the same operator)
      ("l106_blob_neardup" -> blobNearDupSql(capped = true)) +
      ("l108_blob_neardup_hold" -> blobNearDupSql(capped = false)) +
      // l114: the same fire-universe chain, closed transitively and
      // folded through the size/id argmax — the retention action
      ("l114_blob_neardup_dedup" -> blobKeepBestSql) +
      // l116/l118: the decode-free perceptual chain — block sums over
      // the 64-cell grid, gradient bits, 16-bit-band LSH, exact
      // Hamming — with the two injections that prove the byte and
      // perceptual keys' duplicate classes disjoint (swap preserves
      // the raster and kills every 8-gram; the 4-byte header shift
      // does the exact opposite)
      ("l116_blob_perceptual_neardup" -> perceptualSql(
        "list_aggregate(list_transform(range(0, length(t)//2), " +
          "i -> substr(t, i*2+2, 1) || substr(t, i*2+1, 1)), 'string_agg', '')")) +
      ("l118_blob_perceptual_hold" -> perceptualSql(
        "'HDR|' || substr(t, 1, length(t)-4)")) +
      // l119: the fire chain's pairs + recursive closure + size/id
      // argmax — the l114 retention tail on the perceptual key
      ("l119_blob_perceptual_dedup" -> perceptualKeepBestSql(
        "list_aggregate(list_transform(range(0, length(t)//2), " +
          "i -> substr(t, i*2+2, 1) || substr(t, i*2+1, 1)), 'string_agg', '')")) +
      // l117: the guard's refresh path — per-drop verdicts against the
      // store THAT DROP ingested under (v1 for batches 0-1, the
      // enlarged v2 for 2-3)
      ("l117_decon_refresh" -> deconRefreshSql) +
      // l115: l112's candidate chain + the l17 recursive closure —
      // the canonical action over the q-gram recall
      ("l115_fuzzy_qgram_canonical" ->
        """WITH RECURSIVE lw AS (SELECT DISTINCT UNNEST(string_split(p_name, ' ')) AS w
          |           FROM part),
          |v AS (SELECT w FROM lw
          |      UNION
          |      SELECT substr(w, 1, length(w)-1) FROM lw WHERE length(w) >= 5),
          |g AS (SELECT w, substr(w, i, 3) AS blk
          |      FROM v, UNNEST(generate_series(1, length(w)-2)) t(i)
          |      WHERE length(w) >= 3),
          |gb AS (SELECT DISTINCT w, blk FROM g),
          |hot AS (SELECT blk FROM gb GROUP BY blk HAVING COUNT(*) > 16),
          |kept AS (SELECT w, blk FROM gb
          |         WHERE blk NOT IN (SELECT blk FROM hot)),
          |cand AS (SELECT DISTINCT a.w AS va, b.w AS vb
          |         FROM kept a JOIN kept b ON a.blk = b.blk AND a.w < b.w
          |         WHERE abs(length(a.w) - length(b.w)) <= 2),
          |pairs AS (SELECT va, vb FROM cand WHERE levenshtein(va, vb) <= 2),
          |edges AS (SELECT va AS x, vb AS y FROM pairs
          |          UNION SELECT vb, va FROM pairs),
          |nodes AS (SELECT DISTINCT x AS id FROM edges),
          |reach AS (SELECT id, id AS r FROM nodes
          |          UNION
          |          SELECT e.x, reach.r FROM edges e JOIN reach ON reach.id = e.y),
          |lbl AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
          |SELECT v.w, COALESCE(lbl.rep, v.w) AS canonical
          |FROM v LEFT JOIN lbl ON lbl.id = v.w
          |ORDER BY v.w""".stripMargin) +
      // l107: multi-pass blocked fuzzy ER — per-key candidates
      // unioned, dedup'd before the DP, over the typo-injected corpus
      ("l107_fuzzy_multiblock" ->
        """WITH p2 AS (SELECT p_name FROM part
          |            UNION ALL
          |            SELECT substr(p_name, 1, length(p_name)-1)
          |            FROM part WHERE p_partkey % 100 = 0),
          |v AS (SELECT DISTINCT p_name AS s FROM p2),
          |b1 AS (SELECT s, split_part(s, ' ', -1) AS blk FROM v),
          |b2 AS (SELECT s, split_part(s, ' ', 1) AS blk FROM v),
          |cand AS (
          |  SELECT a.s AS va, b.s AS vb FROM b1 a
          |  JOIN b1 b ON a.blk = b.blk AND a.s < b.s
          |  WHERE abs(length(a.s) - length(b.s)) <= 2
          |  UNION
          |  SELECT a.s, b.s FROM b2 a
          |  JOIN b2 b ON a.blk = b.blk AND a.s < b.s
          |  WHERE abs(length(a.s) - length(b.s)) <= 2)
          |SELECT va, vb, CAST(levenshtein(va, vb) AS BIGINT) AS dist
          |FROM cand WHERE levenshtein(va, vb) <= 2
          |ORDER BY va, vb""".stripMargin) +
      // l112: the q-gram ER leg replayed — gram explosion, the df>16
      // cap (vacuous on this vocabulary, replayed anyway so the SQL
      // states the full operator), block join, length prefilter, DP.
      // The two word-split keys contribute zero candidates on a
      // one-token vocabulary by construction, so they have no SQL leg.
      ("l112_fuzzy_qgram_block" ->
        """WITH lw AS (SELECT DISTINCT UNNEST(string_split(p_name, ' ')) AS w
          |           FROM part),
          |v AS (SELECT w FROM lw
          |      UNION
          |      SELECT substr(w, 1, length(w)-1) FROM lw WHERE length(w) >= 5),
          |g AS (SELECT w, substr(w, i, 3) AS blk
          |      FROM v, UNNEST(generate_series(1, length(w)-2)) t(i)
          |      WHERE length(w) >= 3),
          |gb AS (SELECT DISTINCT w, blk FROM g),
          |hot AS (SELECT blk FROM gb GROUP BY blk HAVING COUNT(*) > 16),
          |kept AS (SELECT w, blk FROM gb
          |         WHERE blk NOT IN (SELECT blk FROM hot)),
          |cand AS (SELECT DISTINCT a.w AS va, b.w AS vb
          |         FROM kept a JOIN kept b ON a.blk = b.blk AND a.w < b.w
          |         WHERE abs(length(a.w) - length(b.w)) <= 2)
          |SELECT va, vb, CAST(levenshtein(va, vb) AS BIGINT) AS dist
          |FROM cand WHERE levenshtein(va, vb) <= 2
          |ORDER BY va, vb""".stripMargin) +
      // l113: the recall audit replayed — sampled universe, content
      // addressing as DISTINCT payload, exact byte-Jaccard ground
      // truth, the full 16-seed/4-band LSH chain, per-stratum fold.
      // Pair identity rides the payload itself (the Spark side keys on
      // blob_key) — per-stratum COUNTS are identical either way.
      ("l113_byte_lsh_recall" ->
        """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          |base AS (
          |  SELECT doc_id, encode(text) AS payload FROM docs
          |  UNION ALL
          |  SELECT doc_id + 1000000,
          |    encode('HDR|' || substr(text, 1, greatest(length(text)-2, 0)))
          |  FROM docs WHERE doc_id % 50 = 0),
          |dp AS (SELECT DISTINCT payload FROM base),
          |hx AS (SELECT payload, octet_length(payload) AS nb,
          |         upper(hex(payload)) AS h FROM dp),
          |sh AS (SELECT DISTINCT payload, substr(h, i*2+1, 16) AS s
          |       FROM hx, UNNEST(generate_series(0, nb - 8)) t(i)
          |       WHERE nb >= 8),
          |cnt AS (SELECT payload, COUNT(*) AS n_sh FROM sh GROUP BY 1),
          |inter AS (SELECT a.payload AS pa, b.payload AS pb, COUNT(*) AS inter
          |          FROM sh a JOIN sh b ON a.s = b.s AND a.payload < b.payload
          |          GROUP BY 1, 2),
          |exact AS (SELECT pa, pb FROM inter
          |          JOIN cnt ca ON ca.payload = pa
          |          JOIN cnt cb ON cb.payload = pb
          |          WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) > 0.7),
          |mh AS (SELECT payload, seed,
          |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021,
          |               14939,58057,23371,60943,3571,38833,50993,17389][seed+1]
          |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
          |              [27179,43691,20117,51347,7129,63577,31769,44201,
          |               29527,12641,54679,8363,47507,64151,21841,36653][seed+1]
          |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
          |             % 1099511627791) AS mh
          |       FROM sh, UNNEST(generate_series(0, 15)) t(seed) GROUP BY 1, 2),
          |bands AS (SELECT payload, seed % 4 AS band,
          |            array_to_string(list_sort(list(mh)), '|') AS bsig
          |          FROM mh GROUP BY 1, 2),
          |cand AS (SELECT DISTINCT x.payload AS pa, y.payload AS pb
          |         FROM bands x JOIN bands y
          |           ON x.band = y.band AND x.bsig = y.bsig
          |          AND x.payload < y.payload),
          |fids AS (SELECT payload FROM cnt WHERE n_sh < 173),
          |fbands AS (SELECT payload, seed % 8 AS band,
          |             array_to_string(list_sort(list(mh)), '|') AS bsig
          |           FROM mh JOIN fids USING (payload) GROUP BY 1, 2),
          |fcand AS (SELECT DISTINCT x.payload AS pa, y.payload AS pb
          |          FROM fbands x JOIN fbands y
          |            ON x.band = y.band AND x.bsig = y.bsig
          |           AND x.payload < y.payload),
          |candall AS (SELECT pa, pb FROM cand UNION SELECT pa, pb FROM fcand),
          |lshv AS (SELECT c.pa, c.pb FROM cand c
          |         JOIN inter i ON i.pa = c.pa AND i.pb = c.pb
          |         JOIN cnt ca ON ca.payload = c.pa
          |         JOIN cnt cb ON cb.payload = c.pb
          |         WHERE CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) > 0.7),
          |lshs AS (SELECT c.pa, c.pb FROM candall c
          |         JOIN inter i ON i.pa = c.pa AND i.pb = c.pb
          |         JOIN cnt ca ON ca.payload = c.pa
          |         JOIN cnt cb ON cb.payload = c.pb
          |         WHERE CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) > 0.7),
          |strat AS (SELECT e.pa, e.pb,
          |            CAST(least(ha.nb, hb.nb) // 128 AS BIGINT) AS stratum,
          |            CASE WHEN lb.pa IS NOT NULL THEN 1 END AS hit_base,
          |            CASE WHEN ls.pa IS NOT NULL THEN 1 END AS hit
          |          FROM exact e
          |          JOIN hx ha ON ha.payload = e.pa
          |          JOIN hx hb ON hb.payload = e.pb
          |          LEFT JOIN lshv lb ON lb.pa = e.pa AND lb.pb = e.pb
          |          LEFT JOIN lshs ls ON ls.pa = e.pa AND ls.pb = e.pb)
          |SELECT stratum, COUNT(*) AS n_exact, COUNT(hit_base) AS n_lsh_base,
          |  COUNT(hit) AS n_lsh, COUNT(*) - COUNT(hit) AS n_missed,
          |  CAST(COUNT(hit_base) AS DOUBLE) / COUNT(*) AS recall_base,
          |  CAST(COUNT(hit) AS DOUBLE) / COUNT(*) AS recall
          |FROM strat GROUP BY 1 ORDER BY 1""".stripMargin) +
      // l110: the l61 cross-drop band-join replay over the byte chain
      // (16-seed family, 4 strided bands, +1000001 variant ids)
      ("l110_stream_blob_neardup" ->
        """WITH base AS (
          |  SELECT doc_id, encode(text) AS payload FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000001,
          |    encode('HDR|' || substr(text, 1, greatest(length(text)-2, 0)))
          |  FROM documents WHERE doc_id % 50 = 0),
          |hx AS (SELECT doc_id, octet_length(payload) AS nb,
          |         upper(hex(payload)) AS h FROM base),
          |sh AS (SELECT DISTINCT doc_id, substr(h, i*2+1, 16) AS s
          |        FROM hx, UNNEST(generate_series(0, nb - 8)) t(i)
          |        WHERE nb >= 8),
          |mh AS (SELECT doc_id, seed,
          |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021,
          |               14939,58057,23371,60943,3571,38833,50993,17389][seed+1]
          |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
          |              [27179,43691,20117,51347,7129,63577,31769,44201,
          |               29527,12641,54679,8363,47507,64151,21841,36653][seed+1]
          |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
          |             % 1099511627791) AS mh
          |       FROM sh, UNNEST(generate_series(0, 15)) t(seed) GROUP BY 1, 2),
          |bands AS (SELECT doc_id, seed % 4 AS band,
          |            array_to_string(list_sort(list(mh)), '|') AS bsig
          |          FROM mh GROUP BY 1, 2),
          |m AS (SELECT x.doc_id AS did, MIN(y.doc_id) AS first_match,
          |        COUNT(DISTINCT y.doc_id) AS n_matches
          |      FROM bands x JOIN bands y ON x.band = y.band AND x.bsig = y.bsig
          |      WHERE (y.doc_id % 4) < (x.doc_id % 4)
          |      GROUP BY 1)
          |SELECT n.doc_id, CAST(n.doc_id % 4 AS BIGINT) AS ingest_batch,
          |  m.first_match,
          |  CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
          |  m.first_match IS NOT NULL AS is_dup
          |FROM base n
          |LEFT JOIN m ON m.did = n.doc_id
          |ORDER BY doc_id""".stripMargin) +
      // l109: the multiblock pair union + the l17 recursive-CTE
      // closure — min label per component, singletons self-map
      ("l109_fuzzy_multiblock_canonical" ->
        """WITH RECURSIVE p2 AS (SELECT p_name FROM part
          |            UNION ALL
          |            SELECT substr(p_name, 1, length(p_name)-1)
          |            FROM part WHERE p_partkey % 100 = 0),
          |v AS (SELECT DISTINCT p_name AS s FROM p2),
          |b1 AS (SELECT s, split_part(s, ' ', -1) AS blk FROM v),
          |b2 AS (SELECT s, split_part(s, ' ', 1) AS blk FROM v),
          |cand AS (
          |  SELECT a.s AS va, b.s AS vb FROM b1 a
          |  JOIN b1 b ON a.blk = b.blk AND a.s < b.s
          |  WHERE abs(length(a.s) - length(b.s)) <= 2
          |  UNION
          |  SELECT a.s, b.s FROM b2 a
          |  JOIN b2 b ON a.blk = b.blk AND a.s < b.s
          |  WHERE abs(length(a.s) - length(b.s)) <= 2),
          |pairs AS (SELECT va, vb FROM cand WHERE levenshtein(va, vb) <= 2),
          |edges AS (SELECT va AS x, vb AS y FROM pairs
          |          UNION SELECT vb, va FROM pairs),
          |nodes AS (SELECT DISTINCT x AS id FROM edges),
          |reach AS (SELECT id, id AS r FROM nodes
          |          UNION
          |          SELECT e.x, reach.r FROM edges e JOIN reach ON reach.id = e.y),
          |lbl AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
          |SELECT v.s AS p_name, COALESCE(lbl.rep, v.s) AS canonical
          |FROM v LEFT JOIN lbl ON lbl.id = v.s
          |ORDER BY p_name""".stripMargin) +
      // l103: the injected variants + canonicalization chain replayed
      ("l103_url_canonical" -> (urlCanonCtes +
        """
          |SELECT doc_id, url, pfx || rest AS canon_url FROM s5
          |ORDER BY doc_id""".stripMargin)) +
      // l104: URL-level dedup over the canonical form — groups of >= 2,
      // earliest doc_id kept
      ("l104_url_dedup" -> (urlCanonCtes +
        """
          |SELECT pfx || rest AS canon_url, COUNT(*) AS n_docs,
          |  MIN(doc_id) AS keep_id
          |FROM s5 GROUP BY 1 HAVING COUNT(*) >= 2
          |ORDER BY canon_url""".stripMargin)) +
      // l66 chains the streaming loop's persisted band store into
      // groups + retention; the store accumulated over all drops is
      // exactly the corpus band frame, so the contract is l44's batch
      // recompute oracle verbatim
      ("l66_stream_dup_groups" -> base("l44_dedup_keep_best")) +
      // l74 runs l16's exact composition with TUNER-chosen banding;
      // the tuner's in-query require pins rows=2 — the parameters l16
      // uses — so the verified-pairs contract is l16's oracle verbatim
      ("l74_dedup_lsh_tuned" -> base("l16_dedup_lsh_verified")) +
      ("l60_bpe_train" -> bpeOracle(10)) +
      ("l67_bpe_encode" -> bpeEncodeOracle(10)) +
      ("l69_token_fertility" -> bpeFertilityOracle(10)) +
      ("l68_pii_redact" -> piiOracle) +
      ("l70_ngram_novelty" ->
        """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
          |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
          |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
          |       WHERE len(ws) >= 3),
          |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
          |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
          |          CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
          |        FROM sh JOIN df USING (s) GROUP BY 1)
          |SELECT d2.doc_id,
          |  COALESCE(a.n_shingles, 0) AS n_shingles,
          |  COALESCE(a.n_unique, 0) AS n_unique,
          |  CASE WHEN COALESCE(a.n_shingles, 0) = 0 THEN 0.0
          |       ELSE CAST(a.n_unique AS DOUBLE) / a.n_shingles END AS novelty
          |FROM documents d2 LEFT JOIN agg a USING (doc_id)
          |ORDER BY d2.doc_id""".stripMargin) +
      // l72: DuckDB profiles the ORIGINAL corpus — a green hash row
      // proves the store round-trip (write → pointer join → decode)
      // reproduced it exactly; the dedup/losslessness/pruning claims
      // fail the Spark side loudly before any row reaches grading.
      ("l72_blob_pointer_store" ->
        """SELECT source, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT text) AS n_blobs,
          |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes
          |FROM documents GROUP BY source ORDER BY source""".stripMargin) +
      ("l71_source_len_quartiles" ->
        """WITH v AS (SELECT source, doc_id,
          |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS v
          |  FROM documents),
          |r AS (SELECT source, v,
          |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS rk,
          |        COUNT(*) OVER (PARTITION BY source) AS n_docs
          |      FROM v)
          |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
          |  MAX(CASE WHEN rk = ceil(n_docs * 0.25) THEN v END) AS p25,
          |  MAX(CASE WHEN rk = ceil(n_docs * 0.5) THEN v END) AS p50,
          |  MAX(CASE WHEN rk = ceil(n_docs * 0.75) THEN v END) AS p75
          |FROM r GROUP BY 1, 2 ORDER BY 1""".stripMargin) +
      // l77: DuckDB recomputes the artifact over the WHOLE new
      // snapshot (l35's quality replay with documents -> snapshot b) —
      // the Spark side recomputes only the delta and splices standing
      // state through, so the green hash row proves incremental ==
      // full, the IVM equivalence claim.
      ("l77_incremental_refresh" ->
        """WITH b AS (SELECT doc_id,
          |        CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
          |      FROM documents WHERE doc_id % 11 <> 4),
          |f AS (SELECT doc_id,
          |    CAST(len(list_filter(regexp_extract_all(text, '\S+'),
          |        x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
          |      / NULLIF(len(regexp_extract_all(text, '\S+')), 0) AS stop_ratio,
          |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
          |      / NULLIF(length(text), 0) AS punct_ratio,
          |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
          |      / NULLIF(length(text), 0) AS upper_ratio,
          |    len(regexp_extract_all(text, '\S+')) AS n_tokens
          |  FROM b),
          |z AS (SELECT doc_id,
          |    -1.5 + 3.0 * stop_ratio - 8.0 * punct_ratio - 2.0 * upper_ratio
          |      + 0.35 * ln(1.0 + n_tokens) AS z
          |  FROM f)
          |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS q_score,
          |  round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
          |FROM z ORDER BY doc_id""".stripMargin) +
      // l78: DuckDB profiles the NEW snapshot directly — the Spark side
      // routes it through write → append (cross-ingest dedup) →
      // pointer join → decode, so the green row certifies the whole
      // grown-store round trip; the dedup/no-op-replay/losslessness
      // claims fail the Spark side loudly before grading.
      ("l78_blob_append" ->
        """WITH b AS (SELECT doc_id,
          |        CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text,
          |        source
          |      FROM documents WHERE doc_id % 11 <> 4)
          |SELECT source, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT text) AS n_blobs,
          |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes
          |FROM b GROUP BY source ORDER BY source""".stripMargin) +
      // l79: DuckDB profiles the surviving snapshot — the Spark side
      // serves it from the VACUUMED store, so the green row certifies
      // erasure kept every live blob while the in-query requires pin
      // that the dead ones actually dropped.
      ("l79_blob_vacuum" ->
        """SELECT source, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT text) AS n_blobs,
          |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes
          |FROM documents WHERE doc_id % 11 <> 4
          |GROUP BY source ORDER BY source""".stripMargin) +
      // l73: per-pair guarded cosine rounded to 6 d.p. BEFORE the max —
      // the same scoring contract as l8/l9, so the max and the >= 0.4
      // flag are bit-reproducible across engines.
      // l75: DuckDB rebuilds both snapshots and compares the payloads
      // THEMSELVES — the Spark side diffs (id, xxhash64) pointer
      // frames, so the green row certifies the fingerprint trade on
      // this corpus (equal text ⇒ no row, differing text ⇒ 'changed').
      ("l75_snapshot_diff" ->
        """WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 3),
          |b AS (SELECT doc_id,
          |        CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
          |      FROM documents WHERE doc_id % 11 <> 4)
          |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
          |  CASE WHEN b.doc_id IS NULL THEN 'removed'
          |       WHEN a.doc_id IS NULL THEN 'added'
          |       ELSE 'changed' END AS status
          |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
          |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.text <> b.text
          |ORDER BY doc_id""".stripMargin) +
      // l76: l55's IVF-PQ replay with a delete-aware tail — the full
      // candidate ADC ranking once, the probe's top-3 non-self
      // neighbors as the tombstone set (the same derivation the Spark
      // query runs on its pre-delete serve), and the graded top-10
      // drawn from the survivors.
      // l81: the WHOLE IVF-PQ pipeline recomputed over the post-delete
      // corpus — centroids, codebooks, codes, routing and ADC all
      // re-derived from the live vectors only, exactly what
      // rebuildIfTombstoned's buildIvfPq does. The corpus substitution
      // is mechanical (every read of `embeddings` goes through the
      // filtered CTE), so the oracle IS l55's recompute on the live set.
      ("l81_ann_auto_rebuild" -> (ivfPqAdcCtes
        .replace("FROM embeddings", "FROM live_embeddings")
        .replaceFirst("WITH ",
          "WITH live_embeddings AS (SELECT * FROM embeddings " +
            "WHERE vec_id % 3 <> 0 OR vec_id = 0),\n") + "\n" +
        """SELECT c2.vec_id,
          |  CAST(SUM(CAST(round(d.dsub * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS adc_dist
          |FROM codes c2 JOIN dtab d ON d.sub = c2.sub AND d.code = c2.code
          |GROUP BY 1 ORDER BY adc_dist, c2.vec_id LIMIT 10""".stripMargin)) +
      ("l76_ann_tombstone" -> (ivfPqAdcCtes + ",\n" +
        """adc AS (SELECT c2.vec_id,
          |    CAST(SUM(CAST(round(d.dsub * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS adc_dist
          |  FROM codes c2 JOIN dtab d ON d.sub = c2.sub AND d.code = c2.code
          |  GROUP BY 1),
          |del AS (SELECT vec_id FROM adc WHERE vec_id <> 0
          |        ORDER BY adc_dist, vec_id LIMIT 3)
          |SELECT vec_id, adc_dist FROM adc
          |WHERE vec_id NOT IN (SELECT vec_id FROM del)
          |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin)) +
      // l82 holds-and-masks: the serve contract is l76's masked-serve
      // oracle verbatim (same 3-nearest-derived deletion, same mask)
      ("l82_ann_auto_hold" -> (ivfPqAdcCtes + ",\n" +
        """adc AS (SELECT c2.vec_id,
          |    CAST(SUM(CAST(round(d.dsub * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS adc_dist
          |  FROM codes c2 JOIN dtab d ON d.sub = c2.sub AND d.code = c2.code
          |  GROUP BY 1),
          |del AS (SELECT vec_id FROM adc WHERE vec_id <> 0
          |        ORDER BY adc_dist, vec_id LIMIT 3)
          |SELECT vec_id, adc_dist FROM adc
          |WHERE vec_id NOT IN (SELECT vec_id FROM del)
          |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin)) +
      ("l73_semantic_decontaminate" ->
        """WITH e AS (SELECT vec_id, embedding,
          |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
          |  FROM embeddings),
          |ev AS (SELECT embedding, nrm FROM e WHERE vec_id % 17 = 0),
          |tr AS (SELECT vec_id, embedding, nrm FROM e WHERE vec_id % 17 <> 0),
          |sc AS (SELECT t.vec_id,
          |    max(CASE WHEN t.nrm = 0 OR v.nrm = 0 THEN 0.0
          |      ELSE round(list_sum(list_transform(list_zip(t.embedding, v.embedding),
          |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / sqrt(t.nrm * v.nrm), 6) END)
          |      AS max_eval_cos
          |  FROM tr t CROSS JOIN ev v GROUP BY t.vec_id)
          |SELECT t.vec_id, coalesce(sc.max_eval_cos, 0.0) AS max_eval_cos,
          |  (coalesce(sc.max_eval_cos, 0.0) >= 0.4) AS contaminated
          |FROM tr t LEFT JOIN sc USING (vec_id)
          |ORDER BY t.vec_id""".stripMargin)
  }

  /** The l68 replay: the same doc_id-derived injection, the same three
    * redaction passes in the same order, counts on each stage's input
    * text — expression-for-expression with the Spark query (the
    * patterns live in the Java∩RE2 subset, so the placeholder bytes
    * and therefore the hash must agree). */
  private def piiOracle: String =
    """WITH dirty AS (SELECT doc_id,
      |    text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail' ||
      |    CAST(doc_id % 7 AS VARCHAR) || '.example.com or call +1 (415) 555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
      |    CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |    CAST((doc_id * 7) % 256 AS VARCHAR) || '.' ||
      |    CAST((doc_id * 13) % 256 AS VARCHAR) || ' done.' AS t
      |  FROM documents),
      |st AS (SELECT doc_id, t,
      |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |                   '<EMAIL>', 'g') AS t1
      |  FROM dirty),
      |st2 AS (SELECT doc_id, t, t1,
      |    regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t2
      |  FROM st)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
      |  CAST(len(regexp_extract_all(t2, '\+?[0-9][0-9() -]{5,14}[0-9]')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(t2, '\+?[0-9][0-9() -]{5,14}[0-9]', '<PHONE>', 'g')) AS redacted_h
      |FROM st2 ORDER BY doc_id""".stripMargin

  /** The shared UNROLLED merge-chain CTEs (w, r0..r{iters} with p_k,
    * m_k per step): step k counts adjacent symbol pairs of the
    * post-(k-1)-merges reprs, takes the (freq desc, pair lexicographic)
    * arg-max, and applies it with the same literal sentinel replace the
    * engine uses — generated mechanically so the oracles provably run
    * Bpe.trainMerges' recurrence. `word` rides through every r_k so the
    * encode oracle can map words to their final reprs; the training
    * oracle simply ignores it. */
  private def bpeChainCtes(iters: Int): String = {
    val sep = graft.operators.Bpe.Sep
    val steps = (1 to iters).map { k =>
      s"""p$k AS (SELECT sy[i] AS l, sy[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS s
         |  FROM (SELECT freq, x[2:len(x)-1] AS sy
         |        FROM (SELECT freq, string_split(repr, '$sep$sep') AS x FROM r${k - 1})),
         |       UNNEST(generate_series(1, greatest(len(sy)-1, 0))) g(i)
         |  GROUP BY 1, 2),
         |m$k AS (SELECT $k AS step, l, r, s FROM p$k ORDER BY s DESC, l, r LIMIT 1),
         |r$k AS (SELECT word, replace(repr, '$sep' || m.l || '$sep$sep' || m.r || '$sep',
         |                       '$sep' || m.l || m.r || '$sep') AS repr, freq
         |        FROM r${k - 1}, m$k m)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT UNNEST(regexp_extract_all(text, '\\S+')) AS word FROM documents)
       |  GROUP BY 1),
       |r0 AS (SELECT word,
       |         '$sep' || regexp_replace(word, '(.)', '$sep\\1$sep', 'g') || '$sep' AS repr,
       |         freq FROM w),
       |$steps""".stripMargin
  }

  /** The l60 training replay: the merge chain's arg-max rows. */
  private def bpeOracle(iters: Int): String =
    s"""WITH ${bpeChainCtes(iters)}
       |SELECT CAST(step AS BIGINT) AS step, l AS l_sym, r AS r_sym, s AS pair_freq
       |FROM (${(1 to iters).map(k => s"SELECT * FROM m$k").mkString(" UNION ALL ")})
       |ORDER BY step""".stripMargin

  /** The encode-side CTEs shared by the l67 and l69 replays: the
    * chain's FINAL reprs split into symbol arrays per word (`enc`) and
    * every token occurrence of every document (`tok`) — mechanically
    * the same vocabulary-then-join plan Bpe.encode runs. */
  private def bpeEncCtes(iters: Int): String = {
    val sep = graft.operators.Bpe.Sep
    s"""${bpeChainCtes(iters)},
       |enc AS (SELECT word, x[2:len(x)-1] AS sy
       |        FROM (SELECT word, string_split(repr, '$sep$sep') AS x FROM r$iters)),
       |tok AS (SELECT doc_id, g.i AS pos, ws[g.i] AS word
       |        FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM documents),
       |             UNNEST(generate_series(1, len(ws))) g(i))""".stripMargin
  }

  /** The l67 encode replay: per doc the pieces reassembled in token
    * order and hash-graded. */
  private def bpeEncodeOracle(iters: Int): String = {
    val sep = graft.operators.Bpe.Sep
    s"""WITH ${bpeEncCtes(iters)},
       |flat AS (SELECT t.doc_id, flatten(list(e.sy ORDER BY t.pos)) AS pieces
       |         FROM tok t JOIN enc e USING (word) GROUP BY t.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(len(f.pieces), 0) AS BIGINT) AS n_pieces,
       |  md5(COALESCE(array_to_string(f.pieces, '$sep'), '')) AS pieces_h
       |FROM documents d LEFT JOIN flat f USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The l69 fertility replay: per-doc piece counts from the encode
    * CTEs (a COUNT is token-order-invariant, so the flatten step
    * reduces to a sum of per-word symbol counts), joined to the l2
    * langid CASE chain per document, aggregated per language. */
  private def bpeFertilityOracle(iters: Int): String =
    s"""WITH ${bpeEncCtes(iters)},
       |pieces AS (SELECT t.doc_id, CAST(SUM(len(e.sy)) AS BIGINT) AS n_pieces
       |           FROM tok t JOIN enc e USING (word) GROUP BY t.doc_id),
       |lang AS (SELECT doc_id,
       |    CASE WHEN en + de + fr + es = 0 THEN 'und'
       |         WHEN en >= de AND en >= fr AND en >= es THEN 'en'
       |         WHEN de >= fr AND de >= es THEN 'de'
       |         WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_detected,
       |    n_words
       |  FROM (SELECT doc_id,
       |      CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
       |      len(list_filter(regexp_extract_all(text,'\\S+'), x -> list_contains(['the','a','and','of','is'], x))) AS en,
       |      len(list_filter(regexp_extract_all(text,'\\S+'), x -> list_contains(['der','die','das','und','ist'], x))) AS de,
       |      len(list_filter(regexp_extract_all(text,'\\S+'), x -> list_contains(['le','la','et','les','est'], x))) AS fr,
       |      len(list_filter(regexp_extract_all(text,'\\S+'), x -> list_contains(['el','los','y','las','es'], x))) AS es
       |    FROM documents))
       |SELECT l.lang_detected, COUNT(*) AS n_docs,
       |  CAST(SUM(l.n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(p.n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(p.n_pieces) AS DOUBLE) / SUM(l.n_words) AS fertility
       |FROM lang l JOIN pieces p USING (doc_id)
       |WHERE l.n_words > 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The single-probe IVF-PQ replay shared by l55 (recompute), l62
    * (persisted-index serve, reused verbatim) and l76 (tombstone
    * delete, which appends a delete-aware ranking): coarse centroids =
    * the 16 lowest vec_ids (kmeansIters = 0), probe = vec_id 0 routed
    * to its nProbe = 4 nearest lists, PQ codes for the candidate set,
    * and the probe's per-(sub, code) ADC lookup table. Ends at the
    * `dtab` CTE — callers append their own final ranking. */
  private def ivfPqAdcCtes: String =
    """WITH e AS (SELECT vec_id, embedding,
      |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nr
      |  FROM embeddings),
      |c AS (SELECT * FROM e ORDER BY vec_id LIMIT 16),
      |ac AS (SELECT v.vec_id AS vid, c.vec_id AS ci,
      |    CASE WHEN v.n2 = 0 OR c.n2 = 0 THEN 0.0
      |      ELSE round(list_sum(list_transform(list_zip(v.embedding, c.embedding),
      |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / (v.nr * c.nr), 6) END AS cos
      |  FROM e v, c),
      |ranked AS (SELECT vid, ci,
      |    ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, ci) AS rnk FROM ac),
      |buckets AS (SELECT ci AS bucket, vid FROM ranked WHERE rnk = 1),
      |pb AS (SELECT ci AS bucket FROM ranked WHERE vid = 0 AND rnk <= 4),
      |cand AS (SELECT b.vid AS vec_id FROM buckets b JOIN pb ON pb.bucket = b.bucket),
      |idx AS (SELECT vec_id, embedding,
      |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
      |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
      |cb AS (SELECT t.sub, cid, embedding[sub*16+1 : sub*16+16] AS cvec
      |       FROM idx, UNNEST(generate_series(0, 3)) t(sub)),
      |sv AS (SELECT vec_id, t.sub, embedding[sub*16+1 : sub*16+16] AS svec
      |       FROM embeddings, UNNEST(generate_series(0, 3)) t(sub)),
      |scored AS (SELECT sv.vec_id, sv.sub, cb.cid,
      |    round(list_sum(list_transform(list_zip(sv.svec, cb.cvec),
      |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
      |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6) AS dist
      |  FROM sv JOIN cb ON cb.sub = sv.sub),
      |codes AS (SELECT vec_id, sub, code FROM (
      |  SELECT vec_id, sub, cid AS code,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rk
      |  FROM scored) WHERE rk = 1
      |  AND vec_id IN (SELECT vec_id FROM cand)),
      |qs AS (SELECT t.sub, embedding[sub*16+1 : sub*16+16] AS qvec
      |       FROM (SELECT embedding FROM embeddings WHERE vec_id = 0),
      |            UNNEST(generate_series(0, 3)) t(sub)),
      |dtab AS (SELECT cb.sub, cb.cid AS code,
      |    round(list_sum(list_transform(list_zip(qs.qvec, cb.cvec),
      |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
      |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6) AS dsub
      |  FROM cb JOIN qs ON qs.sub = cb.sub)""".stripMargin

  private def oracleSqlBase: Map[String, String] = Map(
    "l58_logreg_quality" -> logRegOracle,
    "l59_classifier_filter" -> logRegOracleWith(
      """SELECT f.doc_id, ((i.w1*f.x1 + i.w2*f.x2 + i.w0) >= 0) AS keep,
        |  (f.y = 1.0) AS label_en
        |FROM feats f, i10 i ORDER BY f.doc_id""".stripMargin),
    "l1_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(regexp_extract_all(text, '\S+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        |  CAST(len(list_filter(regexp_extract_all(text, '\S+'), x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
        |    / len(regexp_extract_all(text, '\S+')) AS stop_ratio,
        |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) AS upper_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "l2_text_langid" ->
      """WITH sc AS (SELECT
        |  len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['the','a','and','of','is'], x))) AS en,
        |  len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['der','die','das','und','ist'], x))) AS de,
        |  len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['le','la','et','les','est'], x))) AS fr,
        |  len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['el','los','y','las','es'], x))) AS es
        |FROM documents)
        |SELECT CASE WHEN en + de + fr + es = 0 THEN 'und'
        |            WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |            WHEN de >= fr AND de >= es THEN 'de'
        |            WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_detected,
        |  COUNT(*) AS n
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "l3_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id",
    "l4_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "l5_dedup_ngram" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT da, db, CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) AS jaccard
        |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8
        |ORDER BY da, db""".stripMargin,
    "l6_dedup_minhash" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2)
        |SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id
        |ORDER BY da, db""".stripMargin,
    "l17_dedup_groups" ->
      """WITH RECURSIVE d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
        |inter AS (SELECT c.da, c.db, COUNT(*) AS i
        |          FROM cand c
        |          JOIN sh a ON a.doc_id = c.da
        |          JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        |          GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM inter
        |          JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |          WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8),
        |edges AS (SELECT da AS x, db AS y FROM pairs UNION SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT x AS id FROM edges),
        |reach AS (SELECT id, id AS r FROM nodes
        |          UNION
        |          SELECT e.x, reach.r FROM edges e JOIN reach ON reach.id = e.y)
        |SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "l7_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t FROM documents),
        |h AS (SELECT doc_id, md5(t) AS h FROM tok),
        |bits AS (SELECT doc_id, p, b,
        |    CASE WHEN ((instr('0123456789abcdef', substr(h, p, 1)) - 1) >> b) & 1 = 1
        |         THEN 1 ELSE -1 END AS c
        |  FROM h, UNNEST(generate_series(1, 8)) tp(p), UNNEST(generate_series(0, 3)) tb(b)),
        |s AS (SELECT doc_id, p, b, SUM(c) AS s FROM bits GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << ((8 - p) * 4 + b)) ELSE 0 END) AS BIGINT) AS simhash32
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "l16_dedup_lsh_verified" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
        |inter AS (SELECT c.da, c.db, COUNT(*) AS i
        |          FROM cand c
        |          JOIN sh a ON a.doc_id = c.da
        |          JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        |          GROUP BY 1, 2)
        |SELECT da, db, CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) AS jaccard
        |FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8
        |ORDER BY da, db""".stripMargin,
    "l15_data_split" ->
      """SELECT CASE WHEN substr(md5('split42|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |            WHEN substr(md5('split42|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |            ELSE 'test' END AS split,
        |  COUNT(*) AS n, MIN(doc_id) AS first_doc
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Mirrors Packing.packSequences: md5-range buckets, then the greedy
    // reset-on-overflow fold replayed as a recursive CTE stepping one
    // row per bucket per level.
    "l24_seq_packing" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 8 AS INT) AS bucket,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, bucket, n_tokens,
        |        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
        |      FROM d),
        |rec AS (
        |  SELECT doc_id, bucket, n_tokens, rn,
        |         CAST(0 AS BIGINT) AS seq, n_tokens AS fill, 0 AS pos
        |  FROM o WHERE rn = 1
        |  UNION ALL
  -- every recursive row has a non-empty current sequence (its
        |  -- predecessor is in it), so the new-sequence guard is just the
        |  -- budget test — mirroring the fold's pos > 0 guard exactly
        |  SELECT o.doc_id, o.bucket, o.n_tokens, o.rn,
        |    CASE WHEN rec.fill + o.n_tokens > 256 THEN rec.seq + 1 ELSE rec.seq END,
        |    CASE WHEN rec.fill + o.n_tokens > 256 THEN o.n_tokens ELSE rec.fill + o.n_tokens END,
        |    CASE WHEN rec.fill + o.n_tokens > 256 THEN 0 ELSE rec.pos + 1 END
        |  FROM o JOIN rec ON o.bucket = rec.bucket AND o.rn = rec.rn + 1)
        |SELECT doc_id, bucket, n_tokens, seq AS seq_id, CAST(pos AS INT) AS seq_pos
        |FROM rec ORDER BY doc_id""".stripMargin,
    // COALESCE to an empty list mirrors chunkTokens' null-text contract
    // (one empty chunk, n_tokens 0) — raw NULL would null out the
    // generate_series bound and drop the row entirely.
    "l25_token_chunks" ->
      """WITH d AS (SELECT doc_id,
        |        COALESCE(regexp_extract_all(text, '\S+'), CAST([] AS VARCHAR[])) AS ws
        |      FROM documents),
        |c AS (SELECT doc_id, ws, CAST(i AS INT) AS chunk_idx
        |      FROM d, UNNEST(generate_series(0,
        |        GREATEST(CAST(ceil(len(ws) / 32.0) AS INT), 1) - 1)) t(i))
        |SELECT doc_id, chunk_idx,
        |  array_to_string(ws[chunk_idx*32+1 : chunk_idx*32+32], ' ') AS chunk_text,
        |  CAST(LEAST(len(ws) - chunk_idx*32, 32) AS INT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "l32_vocab_topk" ->
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token FROM documents)
        |GROUP BY token ORDER BY tf DESC, token LIMIT 20""".stripMargin,
    // round() is half-away-from-zero in BOTH engines (Spark HALF_UP on
    // BigDecimal, DuckDB std round), so the int codes are bit-identical;
    // max_abs_err is an order-free max of deterministic per-element IEEE
    // ops — only cos_deq needs the house 6-d.p. rounding
    "l31_embed_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, e -> abs(CAST(e AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings),
        |qq AS (SELECT vec_id, embedding, scale,
        |    CASE WHEN scale = 0 THEN list_transform(embedding, e -> 0)
        |         ELSE list_transform(embedding, e -> LEAST(127, GREATEST(-127,
        |            CAST(round(CAST(e AS DOUBLE) / scale, 0) AS INTEGER)))) END AS q
        |  FROM s)
        |SELECT vec_id, scale,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  list_max(list_transform(list_zip(embedding, q),
        |    z -> abs(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) * scale))) AS max_abs_err,
        |  CASE WHEN list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE)*CAST(e AS DOUBLE))) = 0
        |         OR list_sum(list_transform(q, e -> (CAST(e AS DOUBLE)*scale)*(CAST(e AS DOUBLE)*scale))) = 0
        |       THEN 0.0
        |       ELSE round(list_sum(list_transform(list_zip(embedding, q),
        |              z -> CAST(z[1] AS DOUBLE) * (CAST(z[2] AS DOUBLE) * scale)))
        |            / (sqrt(list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE)*CAST(e AS DOUBLE))))
        |               * sqrt(list_sum(list_transform(q, e -> (CAST(e AS DOUBLE)*scale)*(CAST(e AS DOUBLE)*scale))))), 6)
        |  END AS cos_deq
        |FROM qq ORDER BY vec_id""".stripMargin,
    "l30_semdedup" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nr
        |  FROM embeddings),
        |c AS (SELECT * FROM e ORDER BY vec_id LIMIT 16),
        |ac AS (SELECT v.vec_id AS vid, c.vec_id AS ci,
        |    CASE WHEN v.n2 = 0 OR c.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(v.embedding, c.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / (v.nr * c.nr), 6) END AS cos
        |  FROM e v, c),
        |ranked AS (SELECT vid, ci,
        |    ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, ci) AS rnk FROM ac),
        |assigned AS (SELECT ci AS cluster, vid FROM ranked WHERE rnk = 1),
        |mx AS (SELECT y.vid AS vid, MAX(CASE WHEN ea.n2 = 0 OR eb.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(
        |      list_zip(ea.embedding, eb.embedding),
        |      z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(ea.n2 * eb.n2), 6) END) AS max_lower_cos
        |  FROM assigned x JOIN assigned y ON x.cluster = y.cluster AND x.vid < y.vid
        |  JOIN e ea ON ea.vec_id = x.vid JOIN e eb ON eb.vec_id = y.vid
        |  GROUP BY 1)
        |SELECT a.vid AS vec_id, a.cluster, mx.max_lower_cos,
        |  COALESCE(mx.max_lower_cos >= 0.3, false) AS dropped
        |FROM assigned a LEFT JOIN mx ON mx.vid = a.vid
        |ORDER BY vec_id""".stripMargin,
    // w is CAST to DOUBLE (DuckDB VALUES 0.15 would be DECIMAL(3,2) and
    // change every downstream arithmetic type); operation order mirrors
    // Sampling.toTargetMix exactly for bit-identical rates
    "l29_domain_mix" ->
      """WITH n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |t(lang, w) AS (VALUES ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.4 AS DOUBLE)),
        |               ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
        |               ('zh', CAST(0.15 AS DOUBLE))),
        |j AS (SELECT n.lang, n.n, t.w FROM n JOIN t USING (lang)),
        |sc AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS scale FROM j),
        |rates AS (SELECT j.lang, LEAST(CAST(1.0 AS DOUBLE), sc.scale * j.w / j.n) AS rate FROM j, sc)
        |SELECT d.lang, COUNT(*) AS n_kept, MIN(doc_id) AS first_doc
        |FROM documents d JOIN rates r ON r.lang = d.lang
        |WHERE CAST('0x' || substr(md5('mix7|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      / 4294967296.0 < r.rate
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "l28_decontaminate" ->
      """WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
        |ev AS (SELECT text FROM documents WHERE doc_id % 50 = 0),
        |td AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM train),
        |tsh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |        FROM td, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |        WHERE len(ws) >= 3),
        |ed AS (SELECT regexp_extract_all(text, '\S+') AS ws FROM ev),
        |esh AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |        FROM ed, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |        WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM tsh GROUP BY 1),
        |hits AS (SELECT t.doc_id, COUNT(*) AS n_overlap FROM tsh t JOIN esh e ON t.s = e.s GROUP BY 1),
        |frac AS (SELECT tr.doc_id,
        |    COALESCE(cnt.n_sh, 0) AS n_sh,
        |    COALESCE(hits.n_overlap, 0) AS n_overlap,
        |    CASE WHEN COALESCE(cnt.n_sh, 0) = 0 THEN 0.0
        |         ELSE CAST(COALESCE(hits.n_overlap, 0) AS DOUBLE) / cnt.n_sh END AS overlap_frac
        |  FROM train tr LEFT JOIN cnt ON cnt.doc_id = tr.doc_id
        |  LEFT JOIN hits ON hits.doc_id = tr.doc_id)
        |SELECT doc_id, n_sh, n_overlap, overlap_frac,
        |  (overlap_frac >= 0.5 AND n_sh > 0) AS contaminated
        |FROM frac ORDER BY doc_id""".stripMargin,
    "l27_repetition" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-1, 0))) t(i)
        |       WHERE len(ws) >= 2)
        |SELECT doc_id, COUNT(*) AS n_2grams, COUNT(DISTINCT s) AS n_distinct,
        |  1.0 - CAST(COUNT(DISTINCT s) AS DOUBLE) / COUNT(*) AS rep_ratio
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // explicit whitespace classes (not \s/\S): Java includes \x0B in
    // \s, RE2 does not — the classes pin the identical byte set
    "l26_text_clean" ->
      """WITH c AS (SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(regexp_replace(text,
        |      'https?://[^ \t\n\x0B\f\r]+', ' ', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[ \t\n\x0B\f\r]+', ' ', 'g')) AS cleaned
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ \t\n\x0B\f\r]+')) AS INT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(length(cleaned) AS INT) AS n_chars_clean,
        |  md5(cleaned) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    "l23_stratified_sample" ->
      """SELECT lang, COUNT(*) AS n, MIN(doc_id) AS first_doc
        |FROM documents
        |WHERE CAST('0x' || substr(md5('curate42|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      / 4294967296.0 < CASE WHEN lang = 'en' THEN 0.3 ELSE 1.0 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "l14_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), x -> CAST(ascii(x) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "l13_simhash_pairs" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t FROM documents),
        |h AS (SELECT doc_id, md5(t) AS h FROM tok),
        |bits AS (SELECT doc_id, p, b,
        |    CASE WHEN ((instr('0123456789abcdef', substr(h, p, 1)) - 1) >> b) & 1 = 1
        |         THEN 1 ELSE -1 END AS c
        |  FROM h, UNNEST(generate_series(1, 8)) tp(p), UNNEST(generate_series(0, 3)) tb(b)),
        |s AS (SELECT doc_id, p, b, SUM(c) AS s FROM bits GROUP BY 1, 2, 3),
        |sh AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << ((8 - p) * 4 + b)) ELSE 0 END) AS BIGINT) AS f
        |  FROM s GROUP BY doc_id)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 1
        |ORDER BY da, db""".stripMargin,
    "l8_embed_pairs" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS da, b.vec_id AS db,
        |  CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |    ELSE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / sqrt(a.nrm * b.nrm), 6) END AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |    ELSE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / sqrt(a.nrm * b.nrm), 6) END > 0.4
        |ORDER BY da, db""".stripMargin,
    "l9_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
        |  FROM embeddings),
        |scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    CASE WHEN q.nrm = 0 OR c.nrm = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / sqrt(q.nrm * c.nrm), 6) END AS cos
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |rk AS (SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |  FROM scored)
        |SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM rk WHERE rk <= 3
        |ORDER BY qid, rk""".stripMargin,
    "l10_mm_binary" ->
      """SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes, md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Mirrors Similarity.lshSignature exactly: plane value
    // h_i[d] = hex6(md5(i||'_'||d))/2^24 - 0.5, projection rounded to
    // 6 d.p. before the sign bit; scoring divides by sqrt(n2a*n2b).
    "l20_ann_lsh" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |sig AS (SELECT vec_id, embedding, n2,
        |    array_to_string(list_transform(generate_series(0, 7), i ->
        |      CASE WHEN round(list_sum(list_transform(generate_series(1, 64), d ->
        |          CAST(embedding[d] AS DOUBLE) *
        |          (CAST('0x' || substr(md5(CONCAT(i, '_', d - 1)), 1, 6) AS BIGINT)
        |             / 16777216.0 - 0.5))), 6) >= 0
        |        THEN '1' ELSE '0' END), '') AS sig
        |  FROM e),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(a.n2 * b.n2), 6) END AS cos
        |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id <> b.vec_id),
        |rk AS (SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM scored)
        |SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM rk WHERE rk <= 3 AND qid < 20
        |ORDER BY qid, rk""".stripMargin,
    // Mirrors lshCosinePairs: per-table salted signatures (4 planes,
    // 6 tables), bucket join, da<db, exact rounded scoring, threshold.
    "l22_embed_pairs_lsh" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |sig AS (SELECT vec_id, t,
        |    array_to_string(list_transform(generate_series(0, 3), i ->
        |      CASE WHEN round(list_sum(list_transform(generate_series(1, 64), d ->
        |          CAST(embedding[d] AS DOUBLE) *
        |          (CAST('0x' || substr(md5(CASE WHEN t = 0 THEN CONCAT(i, '_', d - 1)
        |                                       ELSE CONCAT('t', t, '_', i, '_', d - 1) END), 1, 6) AS BIGINT)
        |             / 16777216.0 - 0.5))), 6) >= 0
        |        THEN '1' ELSE '0' END), '') AS sig
        |  FROM e, UNNEST(generate_series(0, 5)) tt(t)),
        |cand AS (SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
        |  FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT c.da, c.db,
        |    CASE WHEN q.n2 = 0 OR x.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(q.embedding, x.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(q.n2 * x.n2), 6) END AS cos
        |  FROM cand c JOIN e q ON q.vec_id = c.da JOIN e x ON x.vec_id = c.db
        |  WHERE CASE WHEN q.n2 = 0 OR x.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(q.embedding, x.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(q.n2 * x.n2), 6) END > 0.4
        |ORDER BY da, db""".stripMargin,
    // Mirrors the multi-table lshTopK: per-table signatures over salted
    // plane keys (t=0 the l20 formula, t>0 't<t>_<i>_<d>'), candidate
    // pairs unioned across tables and deduped before scoring.
    "l21_ann_lsh_multi" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |sig AS (SELECT vec_id, t,
        |    array_to_string(list_transform(generate_series(0, 5), i ->
        |      CASE WHEN round(list_sum(list_transform(generate_series(1, 64), d ->
        |          CAST(embedding[d] AS DOUBLE) *
        |          (CAST('0x' || substr(md5(CASE WHEN t = 0 THEN CONCAT(i, '_', d - 1)
        |                                       ELSE CONCAT('t', t, '_', i, '_', d - 1) END), 1, 6) AS BIGINT)
        |             / 16777216.0 - 0.5))), 6) >= 0
        |        THEN '1' ELSE '0' END), '') AS sig
        |  FROM e, UNNEST(generate_series(0, 3)) tt(t)),
        |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
        |  FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig AND a.vec_id <> b.vec_id),
        |scored AS (SELECT c.qid, c.cid,
        |    CASE WHEN q.n2 = 0 OR x.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(q.embedding, x.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(q.n2 * x.n2), 6) END AS cos
        |  FROM cand c JOIN e q ON q.vec_id = c.qid JOIN e x ON x.vec_id = c.cid),
        |rk AS (SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM scored)
        |SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM rk WHERE rk <= 3 AND qid < 20
        |ORDER BY qid, rk""".stripMargin,
    // Mirrors ivfTopK exactly: assignment divides by sqrt(a)*sqrt(b)
    // (per-vector norms), scoring by sqrt(a*b) (product of squared
    // norms) — both rounded to 6 d.p. like the Spark side.
    "l18_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nr
        |  FROM embeddings),
        |c AS (SELECT * FROM e ORDER BY vec_id LIMIT 16),
        |ac AS (SELECT v.vec_id AS vid, c.vec_id AS ci,
        |    CASE WHEN v.n2 = 0 OR c.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(v.embedding, c.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / (v.nr * c.nr), 6) END AS cos
        |  FROM e v, c),
        |ranked AS (SELECT vid, ci,
        |    ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, ci) AS rnk FROM ac),
        |buckets AS (SELECT ci AS bucket, vid AS cid FROM ranked WHERE rnk = 1),
        |probes AS (SELECT ci AS bucket, vid AS qid FROM ranked WHERE rnk <= 4),
        |scored AS (SELECT DISTINCT p.qid, b.cid,
        |    CASE WHEN q.n2 = 0 OR t.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(q.embedding, t.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(q.n2 * t.n2), 6) END AS cos
        |  FROM probes p JOIN buckets b ON b.bucket = p.bucket AND b.cid <> p.qid
        |  JOIN e q ON q.vec_id = p.qid JOIN e t ON t.vec_id = b.cid),
        |rk AS (SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM scored)
        |SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM rk WHERE rk <= 3 AND qid < 20
        |ORDER BY qid, rk""".stripMargin,
    "l12_data_pipeline" ->
      """WITH f AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  WHERE len(regexp_extract_all(text, '\S+')) >= 20
        |    AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) < 0.1
        |    AND (CASE
        |      WHEN len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['the','a','and','of','is'], x)))
        |         + len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['der','die','das','und','ist'], x)))
        |         + len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['le','la','et','les','est'], x)))
        |         + len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['el','los','y','las','es'], x))) = 0 THEN 'und'
        |      WHEN len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['the','a','and','of','is'], x)))
        |        >= len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['der','die','das','und','ist'], x)))
        |       AND len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['the','a','and','of','is'], x)))
        |        >= len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['le','la','et','les','est'], x)))
        |       AND len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['the','a','and','of','is'], x)))
        |        >= len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['el','los','y','las','es'], x))) THEN 'en'
        |      ELSE 'other' END) = 'en'),
        |d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM f),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
        |inter AS (SELECT c.da, c.db, COUNT(*) AS i
        |          FROM cand c
        |          JOIN sh a ON a.doc_id = c.da
        |          JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        |          GROUP BY 1, 2),
        |victims AS (
        |  SELECT DISTINCT db FROM inter
        |  JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |  WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8)
        |SELECT doc_id, n_chars FROM f
        |WHERE doc_id NOT IN (SELECT db FROM victims)
        |ORDER BY doc_id""".stripMargin,
    // Mirrors Multimodal.stubDecode byte-derived metadata + the every-
    // 2nd-frame sampler: frames ∈ 1..4 → n_sampled = ceil(frames/2),
    // last sampled index = 2·floor((frames-1)/2).
    "l19_mm_frames" ->
      """WITH m AS (SELECT doc_id,
        |    CASE WHEN strlen(text) % 3 = 0 THEN 'png'
        |         WHEN strlen(text) % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |    CAST(1 + strlen(text) % 4 AS INT) AS frames
        |  FROM documents)
        |SELECT doc_id, format, frames,
        |  CAST((frames + 1) // 2 AS BIGINT) AS n_sampled,
        |  CAST(((frames - 1) // 2) * 2 AS INT) AS last_frame
        |FROM m ORDER BY doc_id""".stripMargin,
    "l11_multimodal_join" ->
      """SELECT doc_id, lang, n_chars, label,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))), 6) AS norm2
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,
    // Mirrors Ranking.bm25's exact operation order: idf * (tf * 2.2)
    // / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)); dl sums are exact
    // integers so avgdl is bit-identical; final round(6).
    "l33_bm25" ->
      """WITH dl AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS dl
        |            FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, t AS term, count(*) AS tf
        |       FROM (SELECT doc_id, UNNEST(regexp_extract_all(text, '\S+')) AS t FROM documents)
        |       WHERE t IN ('spark', 'query', 'window') GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
        |      (CAST(tf.tf AS DOUBLE) * 2.2) /
        |      (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + (0.75 * dl.dl) / s.avgdl)) AS sco
        |  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
        |  JOIN dft d ON d.term = tf.term CROSS JOIN stats s)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_matched, round(sum(sco), 6) AS bm25
        |FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin,
    // Chunking mirrors the verified l25 contract at size 16; keeper =
    // first (doc_id, chunk_idx) per chunk-text md5.
    "l34_chunk_dedup" ->
      """WITH d AS (SELECT doc_id,
        |        COALESCE(regexp_extract_all(text, '\S+'), CAST([] AS VARCHAR[])) AS ws
        |      FROM documents),
        |c AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |        md5(array_to_string(ws[i*16+1 : i*16+16], ' ')) AS h,
        |        CAST(LEAST(len(ws) - i*16, 16) AS INT) AS n_tokens
        |      FROM d, UNNEST(generate_series(0,
        |        GREATEST(CAST(ceil(len(ws) / 16.0) AS INT), 1) - 1)) t(i)),
        |flags AS (SELECT doc_id, n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) = 1 AS kept
        |  FROM c)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM flags GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // z = -1.5 + 3*stop_ratio - 8*punct_ratio - 2*upper_ratio
    //       + 0.35*ln(1 + n_tokens); score = round(sigmoid(z), 6).
    "l35_quality_score" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(list_filter(regexp_extract_all(text, '\S+'),
        |        x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
        |      / NULLIF(len(regexp_extract_all(text, '\S+')), 0) AS stop_ratio,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |      / NULLIF(length(text), 0) AS punct_ratio,
        |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |      / NULLIF(length(text), 0) AS upper_ratio,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents),
        |z AS (SELECT doc_id,
        |    -1.5 + 3.0 * stop_ratio - 8.0 * punct_ratio - 2.0 * upper_ratio
        |      + 0.35 * ln(1.0 + n_tokens) AS z
        |  FROM f)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS q_score,
        |  round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
        |FROM z ORDER BY doc_id""".stripMargin,
    // Band signatures as in the verified l6 contract; the join is
    // restricted to new-side × seen-side.
    "l36_incr_dedup" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |m AS (SELECT x.doc_id AS did, MIN(y.doc_id) AS first_match,
        |        COUNT(DISTINCT y.doc_id) AS n_matches
        |      FROM bands x JOIN bands y ON x.band = y.band AND x.bsig = y.bsig
        |      WHERE x.doc_id % 10 >= 8 AND y.doc_id % 10 < 8
        |      GROUP BY 1)
        |SELECT n.doc_id, m.first_match,
        |  CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
        |  m.first_match IS NOT NULL AS is_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) n
        |LEFT JOIN m ON m.did = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // The streaming ingest loop's accumulated verdicts: same band
    // contract as l36, but every doc surfaces with its drop id and
    // matches run against ALL strictly-earlier drops.
    "l61_stream_incr_dedup" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |m AS (SELECT x.doc_id AS did, MIN(y.doc_id) AS first_match,
        |        COUNT(DISTINCT y.doc_id) AS n_matches
        |      FROM bands x JOIN bands y ON x.band = y.band AND x.bsig = y.bsig
        |      WHERE (y.doc_id % 4) < (x.doc_id % 4)
        |      GROUP BY 1)
        |SELECT n.doc_id, CAST(n.doc_id % 4 AS BIGINT) AS ingest_batch,
        |  m.first_match,
        |  CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
        |  m.first_match IS NOT NULL AS is_dup
        |FROM documents n
        |LEFT JOIN m ON m.did = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // l61's oracle verbatim minus n_matches: the lite path's contract
    // is bit-identical first_match/is_dup without the pair count.
    "l80_stream_dedup_lite" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |m AS (SELECT x.doc_id AS did, MIN(y.doc_id) AS first_match
        |      FROM bands x JOIN bands y ON x.band = y.band AND x.bsig = y.bsig
        |      WHERE (y.doc_id % 4) < (x.doc_id % 4)
        |      GROUP BY 1)
        |SELECT n.doc_id, CAST(n.doc_id % 4 AS BIGINT) AS ingest_batch,
        |  m.first_match,
        |  m.first_match IS NOT NULL AS is_dup
        |FROM documents n
        |LEFT JOIN m ON m.did = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "l37_bpe_pairs" ->
      """WITH t AS (SELECT UNNEST(regexp_extract_all(text, '\S+')) AS t FROM documents),
        |p AS (SELECT substr(t, CAST(i AS INT), 2) AS pair
        |      FROM t, UNNEST(generate_series(1, length(t) - 1)) g(i)
        |      WHERE length(t) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    // Mirrors Similarity.dimStats operation order exactly:
    // round(s/n, 6), round(sqrt(greatest(s2/n - (s/n)*(s/n), 0)), 6).
    "l38_embed_dim_stats" ->
      """WITH x AS (SELECT CAST(i - 1 AS INT) AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, UNNEST(generate_series(1, len(embedding))) g(i))
        |SELECT dim, CAST(count(*) AS BIGINT) AS n, min(x) AS mn, max(x) AS mx,
        |  round(sum(x) / count(*), 6) AS mean,
        |  round(sqrt(greatest(sum(x*x) / count(*) - (sum(x) / count(*)) * (sum(x) / count(*)), 0)), 6) AS std
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
    // Decimal per-dimension sums (exact, associative) ÷ count in double,
    // cast to float — mirrors meanPool's operation order. The double →
    // decimal hop goes THROUGH VARCHAR: Spark's double→decimal cast
    // parses the shortest-roundtrip string (BigDecimal.valueOf), while
    // DuckDB's direct cast runs double arithmetic — their scale-20
    // tails differ by ~1e-18/element, and a group mean that lands on a
    // float rounding midpoint then flips (observed: sf0.001 label 7
    // dim 10, one ulp off). Both engines print doubles shortest-
    // roundtrip, so the varchar hop makes every element's decimal — and
    // therefore the exact sums and quotients — identical by
    // construction.
    "l39_mean_pool" ->
      """WITH x AS (SELECT label, CAST(i - 1 AS INT) AS d, embedding[i] AS x
        |           FROM embeddings, UNNEST(generate_series(1, len(embedding))) g(i)),
        |a AS (SELECT label, d,
        |        sum(CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(38,20))) AS s,
        |        count(*) AS n
        |      FROM x GROUP BY 1, 2)
        |SELECT label, CAST(n AS BIGINT) AS n_vecs, d,
        |  CAST(CAST(s AS DOUBLE) / n AS FLOAT) AS m
        |FROM a ORDER BY label, d""".stripMargin,
    "l40_decontaminate_filter" ->
      """WITH train AS (SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 50 <> 0),
        |ev AS (SELECT text FROM documents WHERE doc_id % 50 = 0),
        |td AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM train),
        |tsh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |        FROM td, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |        WHERE len(ws) >= 3),
        |ed AS (SELECT regexp_extract_all(text, '\S+') AS ws FROM ev),
        |esh AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |        FROM ed, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |        WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM tsh GROUP BY 1),
        |hits AS (SELECT t.doc_id, COUNT(*) AS n_overlap FROM tsh t JOIN esh e ON t.s = e.s GROUP BY 1),
        |frac AS (SELECT tr.doc_id, tr.lang, tr.n_chars,
        |    COALESCE(cnt.n_sh, 0) AS n_sh,
        |    CASE WHEN COALESCE(cnt.n_sh, 0) = 0 THEN 0.0
        |         ELSE CAST(COALESCE(hits.n_overlap, 0) AS DOUBLE) / cnt.n_sh END AS overlap_frac
        |  FROM train tr LEFT JOIN cnt ON cnt.doc_id = tr.doc_id
        |  LEFT JOIN hits ON hits.doc_id = tr.doc_id)
        |SELECT doc_id, lang, n_chars FROM frac
        |WHERE NOT (overlap_frac >= 0.5 AND n_sh > 0)
        |ORDER BY doc_id""".stripMargin,
    // Spark desc = NULLS LAST; pinned explicitly for the oracle.
    "l41_quality_topk_domain" ->
      """WITH f AS (SELECT doc_id, lang,
        |    CAST(len(list_filter(regexp_extract_all(text, '\S+'),
        |        x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
        |      / NULLIF(len(regexp_extract_all(text, '\S+')), 0) AS stop_ratio,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |      / NULLIF(length(text), 0) AS punct_ratio,
        |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |      / NULLIF(length(text), 0) AS upper_ratio,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents),
        |q AS (SELECT doc_id, lang,
        |    round(1.0 / (1.0 + exp(-(-1.5 + 3.0 * stop_ratio - 8.0 * punct_ratio
        |      - 2.0 * upper_ratio + 0.35 * ln(1.0 + n_tokens)))), 6) AS q_score
        |  FROM f),
        |r AS (SELECT doc_id, lang, q_score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY q_score DESC NULLS LAST, doc_id) AS INT) AS rk
        |  FROM q)
        |SELECT doc_id, lang, q_score, rk FROM r WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin,
    // Mirrors LanguageModel.selfCrossEntropy: add-one unigram LM,
    // per-token round(-ln p, 6), DECIMAL-exact sum over the rounded
    // values (order-free), token-free docs kept with xent NULL. The
    // mean is the UNROUNDED double quotient: a mean of scale-6
    // decimals lands exactly on a scale-6 midpoint for real data
    // (sf0.1 doc 1498: 210.926201/62 = 3.4020355), where each engine's
    // round() tie-breaks independently — the raw IEEE quotient of the
    // correctly-rounded sum-double and the exact count is bit-identical.
    "l42_lm_xentropy" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token
        |  FROM documents),
        |lm AS (SELECT token, count(*) AS c FROM t GROUP BY token),
        |tot AS (SELECT sum(c) AS n, count(*) AS v FROM lm),
        |lp AS (SELECT t.doc_id,
        |    round(-ln(CAST(lm.c + 1 AS DOUBLE) / CAST(tot.n + tot.v AS DOUBLE)), 6) AS lp
        |  FROM t JOIN lm USING (token) CROSS JOIN tot),
        |s AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(CAST(lp AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS xent
        |  FROM lp GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.xent
        |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "l43_text_nfc" ->
      """SELECT doc_id, md5(nfc_normalize(text)) AS h,
        |  length(nfc_normalize(text)) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // l17's recursive-CTE connected components + l41's quality logit;
    // keeper = quality argmax per component (doc-id tiebreak),
    // singletons keep themselves.
    "l44_dedup_keep_best" ->
      """WITH RECURSIVE d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
        |inter AS (SELECT c.da, c.db, COUNT(*) AS i
        |          FROM cand c
        |          JOIN sh a ON a.doc_id = c.da
        |          JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        |          GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM inter
        |          JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |          WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8),
        |edges AS (SELECT da AS x, db AS y FROM pairs UNION SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT x AS id FROM edges),
        |reach AS (SELECT id, id AS r FROM nodes
        |          UNION
        |          SELECT e.x, reach.r FROM edges e JOIN reach ON reach.id = e.y),
        |comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
        |q AS (SELECT doc_id,
        |    round(1.0 / (1.0 + exp(-(-1.5
        |      + 3.0 * (CAST(len(list_filter(regexp_extract_all(text, '\S+'),
        |          x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
        |        / NULLIF(len(regexp_extract_all(text, '\S+')), 0))
        |      - 8.0 * (CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |        / NULLIF(length(text), 0))
        |      - 2.0 * (CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |        / NULLIF(length(text), 0))
        |      + 0.35 * ln(1.0 + len(regexp_extract_all(text, '\S+')))))), 6) AS q_score
        |  FROM documents),
        |best AS (SELECT rep, doc_id AS keep_id FROM (
        |    SELECT c.rep, q.doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY c.rep
        |        ORDER BY q.q_score DESC NULLS LAST, q.doc_id) AS rk
        |    FROM comp c JOIN q ON q.doc_id = c.id) WHERE rk = 1)
        |SELECT dd.doc_id, COALESCE(b.keep_id, dd.doc_id) AS keep_id,
        |  CAST(dd.doc_id = COALESCE(b.keep_id, dd.doc_id) AS INT) AS kept
        |FROM documents dd
        |LEFT JOIN comp ON comp.id = dd.doc_id
        |LEFT JOIN best b ON b.rep = comp.rep
        |ORDER BY dd.doc_id""".stripMargin,
    // l21's multi-table LSH neighbor SQL at k=5 + majority vote
    // (votes desc, label asc) + leave-one-out comparison.
    "l45_knn_classify" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |sig AS (SELECT vec_id, t,
        |    array_to_string(list_transform(generate_series(0, 5), i ->
        |      CASE WHEN round(list_sum(list_transform(generate_series(1, 64), d ->
        |          CAST(embedding[d] AS DOUBLE) *
        |          (CAST('0x' || substr(md5(CASE WHEN t = 0 THEN CONCAT(i, '_', d - 1)
        |                                       ELSE CONCAT('t', t, '_', i, '_', d - 1) END), 1, 6) AS BIGINT)
        |             / 16777216.0 - 0.5))), 6) >= 0
        |        THEN '1' ELSE '0' END), '') AS sig
        |  FROM e, UNNEST(generate_series(0, 3)) tt(t)),
        |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
        |  FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig AND a.vec_id <> b.vec_id),
        |scored AS (SELECT c.qid, c.cid,
        |    CASE WHEN q.n2 = 0 OR x.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(q.embedding, x.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(q.n2 * x.n2), 6) END AS cos
        |  FROM cand c JOIN e q ON q.vec_id = c.qid JOIN e x ON x.vec_id = c.cid),
        |rk AS (SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM scored),
        |nb AS (SELECT r.qid, l.label AS nl FROM rk r
        |  JOIN embeddings l ON l.vec_id = r.cid WHERE r.rk <= 5),
        |votes AS (SELECT qid, nl, count(*) AS votes FROM nb GROUP BY qid, nl),
        |win AS (SELECT qid, nl AS pred, votes FROM (
        |    SELECT qid, nl, votes,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, nl) AS vr
        |    FROM votes) WHERE vr = 1)
        |SELECT l.vec_id, l.label, w.pred, w.votes,
        |  COALESCE(CAST(l.label = w.pred AS INT), 0) AS correct
        |FROM embeddings l LEFT JOIN win w ON w.qid = l.vec_id
        |ORDER BY l.vec_id""".stripMargin,
    // l45's LSH neighborhood widened to k=20; positive = best
    // same-label neighbor, negative = best different-label neighbor.
    "l46_triplet_mine" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |sig AS (SELECT vec_id, t,
        |    array_to_string(list_transform(generate_series(0, 5), i ->
        |      CASE WHEN round(list_sum(list_transform(generate_series(1, 64), d ->
        |          CAST(embedding[d] AS DOUBLE) *
        |          (CAST('0x' || substr(md5(CASE WHEN t = 0 THEN CONCAT(i, '_', d - 1)
        |                                       ELSE CONCAT('t', t, '_', i, '_', d - 1) END), 1, 6) AS BIGINT)
        |             / 16777216.0 - 0.5))), 6) >= 0
        |        THEN '1' ELSE '0' END), '') AS sig
        |  FROM e, UNNEST(generate_series(0, 3)) tt(t)),
        |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
        |  FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig AND a.vec_id <> b.vec_id),
        |scored AS (SELECT c.qid, c.cid,
        |    CASE WHEN q.n2 = 0 OR x.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(q.embedding, x.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(q.n2 * x.n2), 6) END AS cos
        |  FROM cand c JOIN e q ON q.vec_id = c.qid JOIN e x ON x.vec_id = c.cid),
        |rk AS (SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM scored),
        |nb AS (SELECT r.qid, r.cid, r.cos, la.label AS ql, lb.label AS cl
        |  FROM rk r JOIN embeddings la ON la.vec_id = r.qid
        |            JOIN embeddings lb ON lb.vec_id = r.cid
        |  WHERE r.rk <= 20),
        |pos AS (SELECT qid, cid AS pos_id, cos AS pos_cos FROM (
        |    SELECT qid, cid, cos,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS pk
        |    FROM nb WHERE ql = cl) WHERE pk = 1),
        |neg AS (SELECT qid, cid AS neg_id, cos AS neg_cos FROM (
        |    SELECT qid, cid, cos,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS pk
        |    FROM nb WHERE ql <> cl) WHERE pk = 1)
        |SELECT l.vec_id, l.label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
        |  round(p.pos_cos - n.neg_cos, 6) AS margin
        |FROM embeddings l
        |LEFT JOIN pos p ON p.qid = l.vec_id
        |LEFT JOIN neg n ON n.qid = l.vec_id
        |ORDER BY l.vec_id""".stripMargin,
    // bloom prefilter is exact end-to-end (no false negatives + exact
    // verify of survivors) → the oracle is the plain exact-overlap SQL
    "l47_bloom_decontaminate" ->
      """WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 40 <> 0),
        |ev AS (SELECT text FROM documents WHERE doc_id % 40 = 0),
        |td AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM train),
        |tsh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |        FROM td, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |        WHERE len(ws) >= 3),
        |ed AS (SELECT regexp_extract_all(text, '\S+') AS ws FROM ev),
        |esh AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |        FROM ed, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |        WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM tsh GROUP BY 1),
        |hits AS (SELECT t.doc_id, COUNT(*) AS n_overlap FROM tsh t JOIN esh e ON t.s = e.s GROUP BY 1),
        |frac AS (SELECT tr.doc_id,
        |    COALESCE(cnt.n_sh, 0) AS n_sh,
        |    COALESCE(hits.n_overlap, 0) AS n_overlap,
        |    CASE WHEN COALESCE(cnt.n_sh, 0) = 0 THEN 0.0
        |         ELSE CAST(COALESCE(hits.n_overlap, 0) AS DOUBLE) / cnt.n_sh END AS overlap_frac
        |  FROM train tr LEFT JOIN cnt ON cnt.doc_id = tr.doc_id
        |  LEFT JOIN hits ON hits.doc_id = tr.doc_id)
        |SELECT doc_id, n_sh, n_overlap, overlap_frac,
        |  (overlap_frac >= 0.3 AND n_sh > 0) AS contaminated
        |FROM frac ORDER BY doc_id""".stripMargin,
    "l48_line_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, 'NAV MENU HOME ABOUT' || chr(10) || text || chr(10) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN 'SUBSCRIBE NOW' || chr(10) ELSE '' END) ||
        |    'doc-' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM corpus),
        |freq AS (
        |  SELECT lower(trim(line)) AS l, COUNT(DISTINCT doc_id) AS df
        |  FROM lines WHERE length(trim(line)) > 0 GROUP BY 1),
        |boiler AS (SELECT l FROM freq WHERE df > 3),
        |kept AS (
        |  SELECT doc_id, pos, line FROM lines
        |  WHERE lower(trim(line)) NOT IN (SELECT l FROM boiler)),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, len(string_split(c.text, chr(10))) AS n_lines,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  md5(COALESCE(r.text_clean, '')) AS clean_md5
        |FROM corpus c LEFT JOIN reb r ON r.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    "l49_split_leakage" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
        |inter AS (SELECT c.da, c.db, COUNT(*) AS i
        |          FROM cand c
        |          JOIN sh a ON a.doc_id = c.da
        |          JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        |          GROUP BY 1, 2),
        |ver AS (SELECT da, db
        |        FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |        WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8),
        |sp AS (SELECT doc_id,
        |         CASE WHEN substr(md5('split42|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |              WHEN substr(md5('split42|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |              ELSE 'test' END AS split
        |       FROM documents)
        |SELECT least(a.split, b.split) AS split_lo, greatest(a.split, b.split) AS split_hi,
        |  COUNT(*) AS n_pairs, least(a.split, b.split) <> greatest(a.split, b.split) AS leaky
        |FROM ver JOIN sp a ON a.doc_id = ver.da JOIN sp b ON b.doc_id = ver.db
        |GROUP BY 1, 2, 4 ORDER BY 1, 2""".stripMargin,
    "l50_corpus_card" ->
      """WITH f AS (
        |  SELECT source, doc_id, length(text) AS chars,
        |    len(regexp_extract_all(text, '\S+')) AS toks,
        |    md5(text) AS chash,
        |    CASE WHEN en + de + fr + es = 0 THEN 'und'
        |         WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |         WHEN de >= fr AND de >= es THEN 'de'
        |         WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang
        |  FROM (SELECT source, doc_id, text,
        |    len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['the','a','and','of','is'], x))) AS en,
        |    len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['der','die','das','und','ist'], x))) AS de,
        |    len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['le','la','et','les','est'], x))) AS fr,
        |    len(list_filter(regexp_extract_all(text,'\S+'), x -> list_contains(['el','los','y','las','es'], x))) AS es
        |  FROM documents))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS avg_tokens,
        |  CAST(SUM(CASE WHEN toks < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |  COUNT(*) - COUNT(DISTINCT chash) AS n_exact_dupes,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        |  MIN(doc_id) AS sample_id
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "l52_lsh_recall" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |einter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |exact AS (SELECT da, db
        |          FROM einter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |          WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
        |vinter AS (SELECT c.da, c.db, COUNT(*) AS i
        |           FROM cand c
        |           JOIN sh a ON a.doc_id = c.da
        |           JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        |           GROUP BY 1, 2),
        |lsh AS (SELECT da, db
        |        FROM vinter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |        WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8)
        |SELECT COUNT(*) AS n_exact, COUNT(l.da) AS n_lsh,
        |  CAST(COUNT(l.da) AS DOUBLE) / COUNT(*) AS recall
        |FROM exact e LEFT JOIN lsh l ON l.da = e.da AND l.db = e.db""".stripMargin,
    // l52's chain over the md5-coin document sample, with the
    // normal-approximation half-width mirrored expression-for-expression.
    "l63_lsh_recall_sampled" ->
      """WITH sdoc AS (SELECT doc_id, text FROM documents
        |  WHERE CAST('0x' || substr(md5('recall62|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |        / 4294967296.0 < 0.5),
        |d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM sdoc),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM d, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) t(i)
        |       WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |einter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |exact AS (SELECT da, db
        |          FROM einter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |          WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8),
        |mh AS (SELECT doc_id, seed,
        |         MIN(([40503,34283,49843,10193,5717,9539,62989,55021][seed+1]
        |                * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
        |              [27179,43691,20117,51347,7129,63577,31769,44201][seed+1]
        |                * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
        |             % 1099511627791) AS mh
        |       FROM sh, UNNEST(generate_series(0, 7)) t(seed) GROUP BY 1, 2),
        |bands AS (SELECT doc_id, seed % 4 AS band,
        |            array_to_string(list_sort(list(mh)), '|') AS bsig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
        |vinter AS (SELECT c.da, c.db, COUNT(*) AS i
        |           FROM cand c
        |           JOIN sh a ON a.doc_id = c.da
        |           JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        |           GROUP BY 1, 2),
        |lsh AS (SELECT da, db
        |        FROM vinter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        |        WHERE CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i) > 0.8),
        |agg AS (SELECT COUNT(*) AS n_exact, COUNT(l.da) AS n_lsh
        |        FROM exact e LEFT JOIN lsh l ON l.da = e.da AND l.db = e.db)
        |SELECT n_exact, n_lsh,
        |  CASE WHEN n_exact = 0 THEN NULL
        |       ELSE round(CAST(n_lsh AS DOUBLE) / n_exact, 6) END AS recall_est,
        |  CASE WHEN n_exact = 0 THEN NULL
        |       ELSE round(1.96 * sqrt((CAST(n_lsh AS DOUBLE) / n_exact)
        |              * (1.0 - CAST(n_lsh AS DOUBLE) / n_exact)
        |              / CAST(n_exact AS DOUBLE)), 6) END AS recall_err95
        |FROM agg""".stripMargin,
    "l55_ivf_pq" -> (ivfPqAdcCtes + "\n" +
      """SELECT c2.vec_id,
        |  CAST(SUM(CAST(round(d.dsub * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS adc_dist
        |FROM codes c2 JOIN dtab d ON d.sub = c2.sub AND d.code = c2.code
        |GROUP BY 1 ORDER BY adc_dist, c2.vec_id LIMIT 10""".stripMargin),
    // Batch IVF-PQ: l55's coarse routing computed PER PROBE (vec_id <
    // 5), l56's batch ADC restricted to each probe's candidate pairs.
    "l64_ivf_pq_batch" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nr
        |  FROM embeddings),
        |c AS (SELECT * FROM e ORDER BY vec_id LIMIT 16),
        |ac AS (SELECT v.vec_id AS vid, c.vec_id AS ci,
        |    CASE WHEN v.n2 = 0 OR c.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(v.embedding, c.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / (v.nr * c.nr), 6) END AS cos
        |  FROM e v, c),
        |ranked AS (SELECT vid, ci,
        |    ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, ci) AS rnk FROM ac),
        |buckets AS (SELECT ci AS bucket, vid FROM ranked WHERE rnk = 1),
        |pb AS (SELECT vid AS qid, ci AS bucket FROM ranked WHERE vid < 5 AND rnk <= 4),
        |cand AS (SELECT pb.qid, b.vid AS vec_id FROM buckets b JOIN pb ON pb.bucket = b.bucket),
        |idx AS (SELECT vec_id, embedding,
        |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cb AS (SELECT t.sub, cid, embedding[sub*16+1 : sub*16+16] AS cvec
        |       FROM idx, UNNEST(generate_series(0, 3)) t(sub)),
        |sv AS (SELECT vec_id, t.sub, embedding[sub*16+1 : sub*16+16] AS svec
        |       FROM embeddings, UNNEST(generate_series(0, 3)) t(sub)),
        |scored AS (SELECT sv.vec_id, sv.sub, cb.cid,
        |    round(list_sum(list_transform(list_zip(sv.svec, cb.cvec),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
        |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6) AS dist
        |  FROM sv JOIN cb ON cb.sub = sv.sub),
        |codes AS (SELECT vec_id, sub, code FROM (
        |  SELECT vec_id, sub, cid AS code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rk
        |  FROM scored) WHERE rk = 1),
        |qs AS (SELECT vec_id AS qid, t.sub, embedding[sub*16+1 : sub*16+16] AS qvec
        |       FROM embeddings, UNNEST(generate_series(0, 3)) t(sub)
        |       WHERE vec_id < 5),
        |dtab AS (SELECT qs.qid, cb.sub, cb.cid AS code,
        |    round(list_sum(list_transform(list_zip(qs.qvec, cb.cvec),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
        |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6) AS dsub
        |  FROM cb JOIN qs ON qs.sub = cb.sub),
        |adc AS (SELECT d.qid, c2.vec_id,
        |    CAST(SUM(CAST(round(d.dsub * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS adc_dist
        |  FROM codes c2
        |  JOIN dtab d ON d.sub = c2.sub AND d.code = c2.code
        |  JOIN cand ON cand.qid = d.qid AND cand.vec_id = c2.vec_id
        |  WHERE c2.vec_id <> d.qid
        |  GROUP BY 1, 2)
        |SELECT qid, vec_id, rk, adc_dist FROM (
        |  SELECT qid, vec_id, adc_dist,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rk
        |  FROM adc) WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // Mirrors AnnIndex.driftAudit exactly: per-sub MIN of the rounded
    // squared distance to the base codebooks (l53's scoring), summed as
    // integer micros per vector (l54's ADC discipline), averaged per
    // ingest; bucket assignment is l55's cosine rnk=1 routing. The
    // drifted ingest shifts every element +0.25f (one IEEE float add —
    // REAL stays single-precision in DuckDB, bit-identical to Spark's
    // float Add) under offset ids.
    "l65_quantizer_drift" ->
      """WITH u AS (
        |  SELECT 'base' AS ingest, vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT 'drift' AS ingest, vec_id + 1000000,
        |    list_transform(embedding, x -> x + CAST(0.25 AS FLOAT))
        |  FROM embeddings),
        |idx AS (SELECT vec_id, embedding,
        |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cb AS (SELECT t.sub, cid, embedding[sub*16+1 : sub*16+16] AS cvec
        |       FROM idx, UNNEST(generate_series(0, 3)) t(sub)),
        |sv AS (SELECT ingest, vec_id, t.sub, embedding[sub*16+1 : sub*16+16] AS svec
        |       FROM u, UNNEST(generate_series(0, 3)) t(sub)),
        |best AS (SELECT sv.ingest, sv.vec_id, sv.sub,
        |    MIN(round(list_sum(list_transform(list_zip(sv.svec, cb.cvec),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
        |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6)) AS dist
        |  FROM sv JOIN cb ON cb.sub = sv.sub
        |  GROUP BY 1, 2, 3),
        |ru AS (SELECT ingest, vec_id,
        |    SUM(CAST(round(dist * 1000000) AS BIGINT)) AS ru
        |  FROM best GROUP BY 1, 2),
        |resid AS (SELECT ingest, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    SUM(ru) AS rus
        |  FROM ru GROUP BY 1),
        |e AS (SELECT ingest, vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nr
        |  FROM u),
        |c AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nr
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |ac AS (SELECT v.ingest, v.vec_id AS vid, c.vec_id AS ci,
        |    CASE WHEN v.n2 = 0 OR c.n2 = 0 THEN 0.0
        |      ELSE round(list_sum(list_transform(list_zip(v.embedding, c.embedding),
        |        z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / (v.nr * c.nr), 6) END AS cos
        |  FROM e v, c),
        |buck AS (SELECT ingest, vid, ci AS bucket FROM (
        |    SELECT ingest, vid, ci,
        |      ROW_NUMBER() OVER (PARTITION BY ingest, vid ORDER BY cos DESC, ci) AS rnk
        |    FROM ac) WHERE rnk = 1),
        |bn AS (SELECT ingest, bucket, COUNT(*) AS bn FROM buck GROUP BY 1, 2),
        |occ AS (SELECT ingest, CAST(COUNT(*) AS BIGINT) AS buckets_used,
        |        CAST(MAX(bn) AS BIGINT) AS max_bucket_n FROM bn GROUP BY 1)
        |SELECT r.ingest, r.n_vecs,
        |  round(CAST(r.rus AS DOUBLE) / 1000000 / r.n_vecs, 6) AS mean_adc_residual,
        |  o.buckets_used, o.max_bucket_n,
        |  round(CAST(o.max_bucket_n AS DOUBLE) * 16 / r.n_vecs, 6) AS occ_skew
        |FROM resid r JOIN occ o USING (ingest) ORDER BY ingest""".stripMargin,
    "l56_pq_adc_batch" ->
      """WITH idx AS (SELECT vec_id, embedding,
        |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cb AS (SELECT t.sub, cid, embedding[sub*16+1 : sub*16+16] AS cvec
        |       FROM idx, UNNEST(generate_series(0, 3)) t(sub)),
        |sv AS (SELECT vec_id, t.sub, embedding[sub*16+1 : sub*16+16] AS svec
        |       FROM embeddings, UNNEST(generate_series(0, 3)) t(sub)),
        |scored AS (SELECT sv.vec_id, sv.sub, cb.cid,
        |    round(list_sum(list_transform(list_zip(sv.svec, cb.cvec),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
        |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6) AS dist
        |  FROM sv JOIN cb ON cb.sub = sv.sub),
        |codes AS (SELECT vec_id, sub, code FROM (
        |  SELECT vec_id, sub, cid AS code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rk
        |  FROM scored) WHERE rk = 1),
        |qs AS (SELECT vec_id AS qid, t.sub, embedding[sub*16+1 : sub*16+16] AS qvec
        |       FROM embeddings, UNNEST(generate_series(0, 3)) t(sub)
        |       WHERE vec_id < 5),
        |dtab AS (SELECT qs.qid, cb.sub, cb.cid AS code,
        |    round(list_sum(list_transform(list_zip(qs.qvec, cb.cvec),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
        |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6) AS dsub
        |  FROM cb JOIN qs ON qs.sub = cb.sub),
        |adc AS (SELECT d.qid, c2.vec_id,
        |    CAST(SUM(CAST(round(d.dsub * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS adc_dist
        |  FROM codes c2 JOIN dtab d ON d.sub = c2.sub AND d.code = c2.code
        |  WHERE c2.vec_id <> d.qid
        |  GROUP BY 1, 2)
        |SELECT qid, vec_id, rk, adc_dist FROM (
        |  SELECT qid, vec_id, adc_dist,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rk
        |  FROM adc) WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "l53_pq_codes" ->
      """WITH idx AS (SELECT vec_id, embedding,
        |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cb AS (SELECT t.sub, cid, embedding[sub*16+1 : sub*16+16] AS cvec
        |       FROM idx, UNNEST(generate_series(0, 3)) t(sub)),
        |sv AS (SELECT vec_id, t.sub, embedding[sub*16+1 : sub*16+16] AS svec
        |       FROM embeddings, UNNEST(generate_series(0, 3)) t(sub)),
        |scored AS (SELECT sv.vec_id, sv.sub, cb.cid,
        |    round(list_sum(list_transform(list_zip(sv.svec, cb.cvec),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
        |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6) AS dist
        |  FROM sv JOIN cb ON cb.sub = sv.sub)
        |SELECT vec_id, sub, code FROM (
        |  SELECT vec_id, sub, cid AS code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rk
        |  FROM scored) WHERE rk = 1 ORDER BY vec_id, sub""".stripMargin,
    "l54_pq_adc" ->
      """WITH idx AS (SELECT vec_id, embedding,
        |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cb AS (SELECT t.sub, cid, embedding[sub*16+1 : sub*16+16] AS cvec
        |       FROM idx, UNNEST(generate_series(0, 3)) t(sub)),
        |sv AS (SELECT vec_id, t.sub, embedding[sub*16+1 : sub*16+16] AS svec
        |       FROM embeddings, UNNEST(generate_series(0, 3)) t(sub)),
        |scored AS (SELECT sv.vec_id, sv.sub, cb.cid,
        |    round(list_sum(list_transform(list_zip(sv.svec, cb.cvec),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
        |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6) AS dist
        |  FROM sv JOIN cb ON cb.sub = sv.sub),
        |codes AS (SELECT vec_id, sub, code FROM (
        |  SELECT vec_id, sub, cid AS code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rk
        |  FROM scored) WHERE rk = 1),
        |qs AS (SELECT t.sub, embedding[sub*16+1 : sub*16+16] AS qvec
        |       FROM (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |            UNNEST(generate_series(0, 3)) t(sub)),
        |dtab AS (SELECT cb.sub, cb.cid AS code,
        |    round(list_sum(list_transform(list_zip(qs.qvec, cb.cvec),
        |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
        |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6) AS dsub
        |  FROM cb JOIN qs ON qs.sub = cb.sub)
        |SELECT c.vec_id,
        |  CAST(SUM(CAST(round(d.dsub * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS adc_dist
        |FROM codes c JOIN dtab d ON d.sub = c.sub AND d.code = c.code
        |GROUP BY 1 ORDER BY adc_dist, c.vec_id LIMIT 10""".stripMargin,
    // DuckDB regexp_replace is single-match by default — the 'g' flag is
    // load-bearing on every rule; entity decode runs AFTER tag removal
    "l57_html_strip" ->
      """WITH h AS (SELECT doc_id,
        |    '<html><head><style>body{color:red}</style><script>var x=1;</script></head><body><h1>Doc '
        |    || CAST(doc_id AS VARCHAR) || '</h1><p class="main">' || text ||
        |    '</p><div>&amp; &lt;tags&gt; &quot;quoted&quot; &#39;q&#39;&nbsp;end</div></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |    '(?is)<(script|style)(>|[ \t\n\x0B\f\r][^>]*>).*?</(script|style)[ \t\n\x0B\f\r]*>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t, '</?[A-Za-z][^>]*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(t,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s2),
        |s4 AS (SELECT doc_id,
        |    trim(regexp_replace(t, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean FROM s3)
        |SELECT doc_id, md5(clean) AS clean_md5, length(clean) AS n_chars_clean
        |FROM s4 ORDER BY doc_id""".stripMargin,
    "l51_difficulty_bins" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(list_filter(regexp_extract_all(text, '\S+'),
        |        x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
        |      / NULLIF(len(regexp_extract_all(text, '\S+')), 0) AS stop_ratio,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |      / NULLIF(length(text), 0) AS punct_ratio,
        |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |      / NULLIF(length(text), 0) AS upper_ratio,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents),
        |z AS (SELECT doc_id,
        |    -1.5 + 3.0 * stop_ratio - 8.0 * punct_ratio - 2.0 * upper_ratio
        |      + 0.35 * ln(1.0 + n_tokens) AS z
        |  FROM f),
        |q AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS q FROM z)
        |SELECT least(9, CAST(floor(q * 10) AS BIGINT)) AS bin, COUNT(*) AS n,
        |  MIN(q) AS q_min, MAX(q) AS q_max
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
