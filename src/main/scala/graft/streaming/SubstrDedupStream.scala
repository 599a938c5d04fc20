package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.Dedup

/** Restart-safe wiring for the STREAMING incremental exact-substring
  * dedup (st7's pipeline shape): each micro-batch EMITS its cleaned
  * text and ADVANCES the persisted gram-count index — two effects
  * that Structured Streaming's checkpoint cannot make atomic inside
  * `foreachBatch`. A crash between them (or after both, before the
  * engine's commit-log write) replays the batch, and a naive
  * mutable-table loop would then clean the replayed batch against a
  * DIFFERENT table state — the exact failure
  * [[ScheduledEtl.BatchCommitLog]] exists for (r9 verdict, "What's
  * missing" #1).
  *
  * The fix here is stronger than a commit log: make BOTH effects
  * idempotent and key them by the engine's checkpointed batchId, so a
  * replay CONVERGES instead of being skipped —
  *
  *  - the gram table is VERSIONED, one parquet snapshot per batch:
  *    `<tableDir>/v0` is the initial corpus index
  *    ([[initGramTable]]); batch b reads `v{b}` and writes `v{b+1}`
  *    ([[advance]]). A replayed batch re-reads the SAME input version
  *    — never the advanced one — because the version key is the
  *    batchId, not "latest";
  *  - the cleaned text lands in a batch-keyed directory
  *    `<outDir>/batch=<b>` with overwrite semantics ([[emit]]) — a
  *    replay rewrites the identical rows over any partial attempt
  *    ([[graft.llm.Dedup.duplicateSpansIncremental]] is
  *    deterministic).
  *
  * Crash-window audit of [[step]] (= emit ∘ advance), proven by
  * MicroBatchIngestSpec's kill/restart cases at both windows:
  *  1. crash AFTER emit, BEFORE advance: `v{b+1}` missing; the replay
  *     re-reads `v{b}`, overwrites `batch=b` with identical rows,
  *     writes `v{b+1}`;
  *  2. crash AFTER advance, BEFORE the engine's batch commit:
  *     `v{b+1}` exists but is recomputed — again from `v{b}` — to
  *     identical content, and the overwrite of a half-written
  *     `v{b+1}` from an interrupted advance heals the same way.
  *  In both windows the cleaned output and the final table equal the
  *  crash-free run's, row for row.
  *
  * Relation to the st7 QUERY: st7 keeps the in-session cached-table
  * loop (one `Trigger.AvailableNow` run, no restart surface, no
  * per-batch table IO — right for a bounded replay and for bench
  * comparability); this object is the unbounded-production form of
  * the same operators, where the table must survive the driver. The
  * versioned path is PRICED as its own registered query since r11
  * (st12_substr_dedup_versioned, same oracle): at sf0.1 the durable
  * form costs st7 + ~0.2-0.6 s for its two parquet table snapshots +
  * batch-keyed emits (quiet r11 records: st7 2.79-3.05 s vs st12
  * 3.21-3.40 s) — the restart guarantee costs roughly one extra
  * columnar (gram, count) scan per batch, as predicted below.
  *
  * 100 TB posture: identical to the in-session form — the batch pays
  * the only text work; reading `v{b}` instead of holding the table
  * cached adds one columnar scan of a (gram, count) table per batch,
  * the same scan a bucketed steady-state deployment does (the st6
  * signature-table note). Version retention is the caller's sweep:
  * everything below the last committed batch is dead after the next
  * batch commits (the [[ScheduledEtl.FileBatchCommitLog.purgeBelow]]
  * convention).
  */
object SubstrDedupStream {

  private def versionDir(tableDir: String, version: Long) = s"$tableDir/v$version"

  /** Write the initial gram-count index (`v0`) from the already-
    * ingested corpus. Run once, before the stream starts. */
  def initGramTable(tableDir: String, corpus: DataFrame,
                    idCol: String, textCol: String, k: Int): Unit =
    Dedup.gramCounts(corpus, idCol, textCol, k)
      .write.mode("overwrite").parquet(versionDir(tableDir, 0L))

  /** The gram-table snapshot batch `batchId` must clean against. */
  def tableFor(spark: SparkSession, tableDir: String, batchId: Long): DataFrame =
    spark.read.parquet(versionDir(tableDir, batchId))

  /** Idempotent emit: clean `batch` against the batch's table version
    * and (over)write `<outDir>/batch=<batchId>`. */
  def emit(spark: SparkSession, tableDir: String, outDir: String,
           batch: DataFrame, batchId: Long, idCol: String, textCol: String, k: Int): Unit =
    Dedup.duplicateSpansIncremental(tableFor(spark, tableDir, batchId),
        batch, idCol, textCol, k)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  /** Idempotent advance: fold the batch's gram counts into version
    * `batchId` and (over)write version `batchId + 1`. */
  def advance(spark: SparkSession, tableDir: String, batch: DataFrame,
              batchId: Long, idCol: String, textCol: String, k: Int): Unit =
    Dedup.advanceGramCounts(tableFor(spark, tableDir, batchId),
        batch, idCol, textCol, k)
      .write.mode("overwrite").parquet(versionDir(tableDir, batchId + 1L))

  /** The per-micro-batch body: emit, then advance. Pass this from
    * `foreachBatch`; replays of either crash window converge (see
    * object doc). */
  def step(spark: SparkSession, tableDir: String, outDir: String,
           batch: DataFrame, batchId: Long, idCol: String, textCol: String, k: Int): Unit = {
    emit(spark, tableDir, outDir, batch, batchId, idCol, textCol, k)
    advance(spark, tableDir, batch, batchId, idCol, textCol, k)
  }
}
