package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one resume-and-skip ingest loop behind every persisted-store
  * stream: the band and fingerprint loops (`IncrementalDedup.run`,
  * `runWinnow`), the decontamination guard (`runDecontaminate`) and the
  * ANN index loop (`AnnIndex.runIngest`). Reference analog: the
  * checkpoint-resume skip check of `pspf/processor.py:303-328`. The
  * streaming checkpoint pins which source data belongs to which batch
  * id, and every `turn` writes batchId-keyed partitions, so a batch
  * replayed after a crash overwrites exactly its own output. Exactly-once
  * end to end without any sink-side token state.
  *
  * `compactEvery` > 0 hands the store's small-files problem to the loop.
  * Each turn then runs three steps, sequentially (foreachBatch bodies
  * never overlap, so the fold never races the appender it shares the
  * loop with):
  *  1. `heal`: complete or discard a standing compaction stage. A crash
  *     inside an earlier turn's fold leaves one, and every store read
  *     fails fast on it, the replayed batch's own included; without the
  *     heal, a mid-compaction crash would wedge the stream behind exactly
  *     the out-of-band repair in-loop compaction exists to remove. The
  *     heal runs UNDER THE STORE LEASE (`StoreLease`), not under "this
  *     loop is the single writer": an out-of-band compactor that is
  *     still staging holds the lease, so the turn fails loudly at acquire
  *     instead of discarding the compactor's live stage as a crash. A
  *     clean store (every turn, in steady state) stays listing-only.
  *  2. `turn`: the batch's own reads and batchId-keyed writes.
  *  3. `fold`: when `id > 0 && id % compactEvery == 0`, fold the
  *     partitions STRICTLY BELOW `id`. The one partition a checkpoint
  *     replay can overwrite stays out of the fold, and a replayed turn's
  *     fold is a no-op, so the hook is idempotent end to end.
  *
  * The trigger contract (one drop = one micro-batch) is the callers';
  * see `IncrementalDedup.run`. */
private[graft] object StoreLoop {

  def start(source: DataFrame, checkpointDir: String, trigger: Trigger,
            compactEvery: Int = 0,
            heal: SparkSession => Unit = _ => (),
            fold: (SparkSession, Long) => Unit = (_, _) => ())(
      turn: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (compactEvery > 0) heal(b.sparkSession)
        turn(b, id)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          fold(b.sparkSession, id)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
