package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}
import graft.llm.{Dedup, Similarity, TextOps}
import graft.ops.Sketches

/** The corpus streams (st6-st18; event streams live in
  * [[IngestQueries]]): each oracle replays the arrival batches one by
  * one against the state the stream held. */
object CorpusStreamQueries extends Q.Registry {
  import Corpus.{LowerWordsSql, truncateLastWord}
  import DedupQueries.{Bands, MinhashK, RowsPerBand, signSqlFor,
    verifiedPairsShared, verifiedPairsSql}
  import IngestQueries.stageArrivalDays
  import SearchQueries.{persistedInt8Dir, q8of, ss7ChainSql, ss7OracleSql}

  /** tx16's word lists (`<p>t`), tokens (`<p>tok`) and 8-grams (`<p>g`)
    * over the CTE `src`, for st7's and llm8's batch-by-batch oracles. */
  private[queries] def substrGramCtes(src: String, p: String): String =
    raw"""${p}t AS (SELECT doc_id, $LowerWordsSql AS ws FROM $src),
         |${p}tok AS (SELECT doc_id, CAST(u.i AS INT) AS tpos, ws[CAST(u.i AS INT)] AS token
         |        FROM ${p}t, unnest(range(1, len(ws) + 1)) AS u(i)),
         |${p}g AS (SELECT doc_id, CAST(u.i AS INT) AS gpos,
         |             ws[CAST(u.i AS INT)] || ' ' || ws[CAST(u.i AS INT)+1] || ' ' ||
         |             ws[CAST(u.i AS INT)+2] || ' ' || ws[CAST(u.i AS INT)+3] || ' ' ||
         |             ws[CAST(u.i AS INT)+4] || ' ' || ws[CAST(u.i AS INT)+5] || ' ' ||
         |             ws[CAST(u.i AS INT)+6] || ' ' || ws[CAST(u.i AS INT)+7] AS gram
         |      FROM ${p}t, unnest(range(1, len(ws) - 6)) AS u(i)),
         |""".stripMargin

  /** One batch over [[substrGramCtes]]' CTEs `p`: grams in `dup` cover
    * 8 tokens each; `out` holds each document's counts and clean text. */
  private[queries] def substrCoverageLeg(p: String, dup: String, out: String): String =
    raw"""${p}f AS (SELECT g.doc_id, g.gpos FROM ${p}g g JOIN $dup USING (gram)),
         |${p}tf AS (SELECT tok.doc_id, tok.tpos, tok.token, f.gpos AS marker
         |       FROM ${p}tok tok LEFT JOIN ${p}f f
         |         ON tok.doc_id = f.doc_id AND tok.tpos = f.gpos),
         |${p}cov AS (SELECT doc_id, tpos, token,
         |               max(marker) OVER (PARTITION BY doc_id ORDER BY tpos
         |                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) IS NOT NULL AS covered
         |        FROM ${p}tf),
         |$out AS (SELECT doc_id, count(*) AS n_tokens,
         |       CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_tokens,
         |       CASE WHEN count(*) = sum(CASE WHEN covered THEN 1 ELSE 0 END)
         |            THEN NULL
         |            ELSE string_agg(CASE WHEN NOT covered THEN token END, ' ' ORDER BY tpos)
         |       END AS clean_text
         |FROM ${p}cov GROUP BY doc_id),
         |""".stripMargin

  /** st7's DuckDB oracle: the two micro-batch legs of the incremental
    * exact-substring dedup replayed batch by batch — batch 1's dup set
    * counts (batch-1 self + corpus table), batch 2's counts (batch-2
    * self + corpus + batch 1, i.e. the ADVANCED table). Shares tx16's
    * tokenize/gram/coverage machinery, instantiated per source. */
  private lazy val substrIncrementalSql: String =
    raw"""WITH dws AS (SELECT doc_id, $LowerWordsSql AS ws FROM documents),
         |nb1 AS (SELECT doc_id + 1000000 AS doc_id,
         |        array_to_string(list_concat(list_slice(ws, 1, 12),
         |          list_transform(list_slice(ws, 13, len(ws)), w -> 'nv_' || w)), ' ') AS text
         |        FROM dws WHERE doc_id % 50 = 0),
         |nb2 AS (SELECT doc_id + 2000000 AS doc_id,
         |        array_to_string(list_concat(
         |          list_transform(list_slice(ws, 13, len(ws)), w -> 'nv_' || w),
         |          list_transform(list_slice(ws, 1, 12), w -> 'nw_' || w)), ' ') AS text
         |        FROM dws WHERE doc_id % 75 = 0),
         |""".stripMargin +
      substrGramCtes("documents", "c") + substrGramCtes("nb1", "b1") +
      substrGramCtes("nb2", "b2") +
      raw"""ccnt AS (SELECT gram, count(*) AS n FROM cg GROUP BY gram),
           |b1cnt AS (SELECT gram, count(*) AS n FROM b1g GROUP BY gram),
           |b2cnt AS (SELECT gram, count(*) AS n FROM b2g GROUP BY gram),
           |dup1 AS (SELECT t.gram FROM b1cnt t LEFT JOIN ccnt c USING (gram)
           |         WHERE t.n + coalesce(c.n, 0) >= 2),
           |dup2 AS (SELECT t.gram FROM b2cnt t LEFT JOIN ccnt c USING (gram)
           |         LEFT JOIN b1cnt o USING (gram)
           |         WHERE t.n + coalesce(c.n, 0) + coalesce(o.n, 0) >= 2),
           |""".stripMargin +
      substrCoverageLeg("b1", "dup1", "out1") + substrCoverageLeg("b2", "dup2", "out2") +
      raw"""fin AS (SELECT * FROM out1 UNION ALL SELECT * FROM out2)
           |SELECT doc_id, n_tokens, n_removed_tokens, clean_text
           |FROM fin ORDER BY doc_id""".stripMargin

  /** st18's oracle: [[DedupQueries.dupGroupsOracleSql]]'s transitive
    * closure over the UNION of the base verified pairs and BOTH planted
    * arrival batches ([[pairBatch1]]/[[pairBatch2]] restated by the same id
    * arithmetic) — the incrementally maintained label store must be
    * indistinguishable from batch dd7 on everything ever seen. */
  private def dupGroupsIncrementalOracleSql: String =
    verifiedPairsSql.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, b1 AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_a,
        |         CAST(doc_id + 7000000 AS BIGINT) AS doc_b
        |  FROM documents WHERE doc_id % 100 = 0
        |  UNION ALL
        |  SELECT doc_id, doc_id + 50 FROM documents WHERE doc_id % 200 = 0
        |  UNION ALL
        |  SELECT doc_id + 8000000, doc_id + 8500000
        |  FROM documents WHERE doc_id % 250 = 0),
        |b2 AS (
        |  SELECT CAST(doc_id + 7000000 AS BIGINT) AS doc_a,
        |         CAST(doc_id + 9000000 AS BIGINT) AS doc_b
        |  FROM documents WHERE doc_id % 100 = 0
        |  UNION ALL
        |  SELECT doc_id + 8000000, doc_id FROM documents WHERE doc_id % 500 = 0
        |  UNION ALL
        |  SELECT doc_id + 8500000, doc_id + 9500000
        |  FROM documents WHERE doc_id % 250 = 0),
        |allp AS (
        |  SELECT doc_a, doc_b FROM verified
        |  UNION SELECT doc_a, doc_b FROM b1
        |  UNION SELECT doc_a, doc_b FROM b2),
        |edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM allp
        |  UNION
        |  SELECT doc_b, doc_a FROM allp),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (
        |  SELECT u AS doc, least(u, min(v)) AS group_id
        |  FROM reach GROUP BY u)
        |SELECT doc, group_id,
        |       count(*) OVER (PARTITION BY group_id) AS group_size,
        |       doc = group_id AS is_canonical
        |FROM comp ORDER BY doc""".stripMargin

  /** Unbounded file stream over the documents table — the new-batch
    * axis of the st6 streaming curation query (shared bounded-stream
    * plumbing: [[IngestQueries.boundedTableStream]]). */
  private def docsStream(s: SparkSession, d: String): DataFrame =
    IngestQueries.boundedTableStream(s, d, "documents.parquet")
      .select(col("doc_id"), col("text"))

  /** The two staged arrival days st7 AND st12 replay — day 1: replayed
    * 12-word heads + novel nv_ tails; day 2: day 1's nv_ tails as
    * heads + fresh nw_ tails. ONE definition (r11 review): the same
    * fixture exists as the substrIncrementalSql oracle's nb1/nb2 CTEs,
    * and a third hand-written copy would triple the drift surface.
    * Returns (day1, day2, stream schema). */
  private def substrDedupBatches(docs: DataFrame)
      : (DataFrame, DataFrame, org.apache.spark.sql.types.StructType) = {
    val ws = TextOps.words(col("text"))
    val nvTail = transform(slice(ws, 13, 1 << 20), w => concat(lit("nv_"), w))
    val batch1 = docs.filter(col("doc_id") % 50 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      array_join(concat(slice(ws, 1, 12), nvTail), " ").as("text"))
    val batch2 = docs.filter(col("doc_id") % 75 === 0).select(
      (col("doc_id") + 2000000L).as("doc_id"),
      array_join(concat(nvTail,
        transform(slice(ws, 1, 12), w => concat(lit("nw_"), w))), " ")
        .as("text"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    (batch1, batch2, schema)
  }

  /** The store `<dir>/base` plus one `<dir>/batch=<b>` per earlier
    * micro-batch, as batch `batchId` reads it: by explicit path, never
    * the batch's own (possibly partial, mid-retry) output. */
  private[queries] def storeAsOf(stage: java.nio.file.Path, dir: String,
                                 batchId: Long, suffix: String = ""): Seq[String] =
    stage.resolve(s"$dir/base$suffix").toString +:
      (0L until batchId).map(i => stage.resolve(s"$dir/batch=$i$suffix").toString)

  /** Replays `days` as a real file stream, one micro-batch per day
    * handed to `body` with its batch id, checkpointed under `stage`;
    * the staged files and the checkpoint go once the stream drains. */
  private[queries] def replayArrivals(s: SparkSession, stage: java.nio.file.Path,
      days: Seq[DataFrame], prefix: String,
      schema: org.apache.spark.sql.types.StructType)
      (body: (DataFrame, Long) => Unit): Unit = {
    val (arr, inDir) = stageArrivalDays(days, prefix)
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", stage.resolve("ckpt").toString)
      .foreachBatch(body)
      .start()
      .awaitTermination()
    graft.LocalRun.deleteRecursively(inDir)
    graft.LocalRun.deleteRecursively(arr)
    graft.LocalRun.deleteRecursively(stage.resolve("ckpt"))
  }

  /** st16/st17's planted arrival batches — the embedding analog of
    * dd11/mm10's two-tier replays, derived from the base corpus so the
    * oracle regenerates them in SQL. Batch 1: exact replicas of every
    * 250th base vector (id + 1,000,000 — new-vs-existing positives)
    * plus NEGATED copies of every 333rd (id + 2,000,000 — cosine −1 to
    * their source, silent novel rows). Batch 2: replicas of every
    * 500th (id + 3,000,000) — these match their base source AND
    * batch 1's appended replica, the match that exists ONLY if the
    * batch-1 append landed (the index-GREW proof) — plus twin replicas
    * of every 400th (ids + 4,000,000 / + 5,000,000 — a full 1M of id
    * headroom each, the repo's planted-id convention, so twins can't
    * collide until base ids reach 1,000,000), the new-vs-new positives
    * that also hit their base source. */
  private def embBatch1(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 250 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .unionAll(emb.filter(col("vec_id") % 333 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
  private def embBatch2(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 500 === 0)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
      .unionAll(emb.filter(col("vec_id") % 400 === 0)
        .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding")))
      .unionAll(emb.filter(col("vec_id") % 400 === 0)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding")))
  /** The planted batches as oracle SQL (same derivations verbatim). */
  private val embBatchesSql: Seq[String] = Seq(
    """SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 250 = 0
      |  UNION ALL
      |  SELECT vec_id + 2000000, list_transform(embedding, x -> -x) FROM embeddings WHERE vec_id % 333 = 0""".stripMargin,
    """SELECT vec_id + 3000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 500 = 0
      |  UNION ALL
      |  SELECT vec_id + 4000000, embedding FROM embeddings WHERE vec_id % 400 = 0
      |  UNION ALL
      |  SELECT vec_id + 5000000, embedding FROM embeddings WHERE vec_id % 400 = 0""".stripMargin)

  /** The near-dup thresholds st16 gates on: coarse quantized cosine ≥
    * TauQ over stored int8 codes, exact float cosine ≥ Tau at verify.
    * Exact replicas land at 1.0 on both; random 64-dim Gaussian pairs
    * sit far below — the planted positives are the only survivors. */
  private[queries] val EmbTauQ = 0.98
  private[queries] val EmbTau = 0.99

  /** st16's and llm8's int8 SQL: `qzOver` quantizes `src`'s embeddings
    * to `qv` as [[Similarity.int8Quantize]] does; `qdot`/`fdot` are the
    * quantized and float dot products of two row aliases. */
  private[queries] def qzOver(src: String, idCol: String): String =
    s"""SELECT $idCol, embedding,
       |    list_transform(embedding, x ->
       |      CASE WHEN s > 0 THEN floor(CAST(x AS DOUBLE) / s + 0.5)
       |           ELSE 0.0 END) AS qv
       |  FROM (SELECT $idCol, embedding,
       |          list_max(list_transform(embedding,
       |            x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
       |        FROM $src)""".stripMargin
  private def qdot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> $a.qv[i] * $b.qv[i]))"
  private def fdot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), " +
      s"i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))"
  private def qcos(a: String, b: String): String =
    s"${qdot(a, b)} / (sqrt(${qdot(a, a)}) * sqrt(${qdot(b, b)}))"
  private def fcos(a: String, b: String): String =
    s"${fdot(a, b)} / (sqrt(${fdot(a, a)}) * sqrt(${fdot(b, b)}))"

  /** st16's near-dup gate between row aliases `a` and `b` as terms to
    * AND: finite positive norms, then both cosine thresholds. isfinite
    * mirrors posNorm's NaN leg (r16 self-review): NaN > 0 is TRUE under
    * DuckDB's NaN-high comparisons, so a bare > 0 would KEEP a NaN-norm
    * row the Spark side drops. */
  private[queries] def gateTerms(a: String, b: String): Seq[String] =
    Seq(fdot(a, a), fdot(b, b), qdot(a, a), qdot(b, b))
      .map(x => s"isfinite($x) AND $x > 0") :+
      s"${qcos(a, b)} >= $EmbTauQ AND ${fcos(a, b)} >= $EmbTau"

  /** st16's oracle: both batches' gate + verify arithmetic replayed
    * against the exact corpus each trigger saw (batch 1 vs the base,
    * batch 2 vs base ∪ batch 1 — the appended index), plus each
    * batch's self pairs. Same quantization fragment as ss7's chain;
    * thresholds interpolate from the SAME EmbTauQ/EmbTau constants the
    * Spark side gates on. Each leg's WHERE carries explicit
    * isfinite-AND-positive guards on the float and quantized norms,
    * mirroring the Spark-side posNorm family contract (r15 ADVICE +
    * r16 self-review): a zero embedding would otherwise 0/0 → NaN in
    * DuckDB and PASS the ≥ tau gate under NaN-high ordering — and a
    * NaN-component row's NaN norm would pass a bare > 0 the same way —
    * while Spark drops both; degenerate input must be uniformly
    * dropped by both engines, not surface as a hash mismatch. */
  private def embPairsOracleSql: String = {
    def leg(nCte: String, mCte: String, side: String, batch: Int): String = {
      val idCond =
        if (side == "new") "n.vec_id < m.vec_id" else "n.vec_id <> m.vec_id"
      s"""SELECT n.vec_id AS new_id, m.vec_id AS matched_id,
         |       '$side' AS matched_side,
         |       floor((${fcos("n", "m")}) * 1e4 + 1e-6) / 1e4 AS cos_sim,
         |       CAST($batch AS BIGINT) AS batch_id
         |FROM $nCte n JOIN $mCte m ON $idCond
         |WHERE ${gateTerms("n", "m").mkString("\n  AND ")}""".stripMargin
    }
    s"""WITH b1 AS (
       |  ${embBatchesSql(0)}),
       |b2 AS (
       |  ${embBatchesSql(1)}),
       |v0 AS (SELECT vec_id, embedding FROM embeddings),
       |v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM b1),
       |qb1 AS (${qzOver("b1", "vec_id")}),
       |qb2 AS (${qzOver("b2", "vec_id")}),
       |qv0 AS (${qzOver("v0", "vec_id")}),
       |qv1 AS (${qzOver("v1", "vec_id")})
       |${leg("qb1", "qv0", "existing", 0)}
       |UNION ALL
       |${leg("qb1", "qb1", "new", 0)}
       |UNION ALL
       |${leg("qb2", "qv1", "existing", 1)}
       |UNION ALL
       |${leg("qb2", "qb2", "new", 1)}
       |ORDER BY batch_id, matched_side, new_id, matched_id""".stripMargin
  }

  /** The GROWN embedding index, one per dir (st16/st17 — r14
    * verdict ask #3, the last missing incremental form): a REAL
    * two-trigger file stream delivers the planted batches; each
    * micro-batch quantizes map-side, reports near-dup pairs against
    * the CURRENT index ([[Similarity.int8NearDupPairs]]: coarse gate
    * over stored tinyint codes, float verify by point-lookup), then
    * APPENDS its (vec_id, embedding, q8) rows as its own batchId-keyed
    * subdirectory — idempotent under micro-batch retry (overwrite of
    * the batch's own dir, the st12/st15 sink contract) and append-only
    * for the index (the existing corpus is never rewritten; per-batch
    * IO ∝ batch). Batch b reads base + batch=0..b-1 explicitly, never
    * its own partial output. Layout under the returned stage:
    *   idx/base, idx/batch=0, idx/batch=1   — the grown index
    *   pairs/batch=0, pairs/batch=1         — the per-batch reports
    * st16 reads pairs/, st17 serves ss7's chain from idx/ — both from
    * ONE stream run per (JVM, dir). st16's refit reset drops the entry
    * and its tree, so each timed run pays the real maintenance stream,
    * not a registry read. */
  private[queries] def grownEmbIndexDir(s: SparkSession, d: String): String =
    Artifacts.get(Artifacts.Jvm, d, "st16_index") { own =>
      val stage = own.tree(java.nio.file.Files.createTempDirectory("graft_st16_"))
      val emb = Tables.embeddings(s, d)
      emb.select(col("vec_id"), col("embedding"),
          q8of(col("embedding")).as("q8"))
        .write.mode("overwrite").parquet(stage.resolve("idx/base").toString)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("vec_id", org.apache.spark.sql.types.LongType)
        .add("embedding", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))
      replayArrivals(s, stage, Seq(embBatch1(emb), embBatch2(emb)),
          "graft_st16_in_", schema) { (b, batchId) =>
        val cur = s.read.parquet(storeAsOf(stage, "idx", batchId): _*)
        // the batch is read through four arms (coarse, verify, both
        // self-join sides) + the append — cache the quantized frame
        val bq = b.withColumn("q8", q8of(col("embedding"))).cache()
        bq.count()
        try {
          val pairs = Similarity.int8NearDupPairs(
              cur.select("vec_id", "q8"), "vec_id", "q8",
              cur.select("vec_id", "embedding"), "embedding",
              bq, "vec_id", "embedding", EmbTauQ, EmbTau)
            .withColumn("batch_id", lit(batchId))
          pairs.write.mode("overwrite")
            .parquet(stage.resolve(s"pairs/batch=$batchId").toString)
          bq.select("vec_id", "embedding", "q8").write.mode("overwrite")
            .parquet(stage.resolve(s"idx/batch=$batchId").toString)
        } finally bq.unpersist(blocking = false)
      }
      stage.toString
    }

  /** st18's planted pair-arrival batches, derived from the documents
    * table by pure id arithmetic so the oracle regenerates them in
    * SQL (the embBatch1/2 convention; planted ids live at +7M/+8M/
    * +8.5M/+9M/+9.5M — disjoint from base docs and the +1M corpus
    * mutations). Batch 1 plants all three incremental cases: ATTACH a
    * new node to an existing component (every 100th doc already pairs
    * with its +1M mutation), MERGE two existing components (doc and
    * doc+50 each have their own mutation pair), and a brand-new
    * isolated pair. Batch 2 then CHAINS through batch 1's new nodes
    * (+7M→+9M — a component that exists only if batch 1's relabel
    * landed, the state-GREW proof), merges a batch-1-born component
    * into an existing one (+8M→base), and extends batch 1's isolated
    * pair (+8.5M→+9.5M). */
  private def pairBatch1(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").cast("long").as("doc_a"),
        (col("doc_id") + 7000000L).as("doc_b"))
      .unionAll(docs.filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").cast("long").as("doc_a"),
          (col("doc_id") + 50L).as("doc_b")))
      .unionAll(docs.filter(col("doc_id") % 250 === 0)
        .select((col("doc_id") + 8000000L).as("doc_a"),
          (col("doc_id") + 8500000L).as("doc_b")))
  private def pairBatch2(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 7000000L).as("doc_a"),
        (col("doc_id") + 9000000L).as("doc_b"))
      .unionAll(docs.filter(col("doc_id") % 500 === 0)
        .select((col("doc_id") + 8000000L).as("doc_a"),
          col("doc_id").cast("long").as("doc_b")))
      .unionAll(docs.filter(col("doc_id") % 250 === 0)
        .select((col("doc_id") + 8500000L).as("doc_a"),
          (col("doc_id") + 9500000L).as("doc_b")))

  /** Hash-bucket count of the st18 label store's partitioned layout
    * (r16 verdict ask #2). Every label dir is written twice: once
    * partitioned by `bkt = pmod(xxhash64(doc), B)` (the endpoint-probe
    * layout) and once by `gbkt = pmod(xxhash64(group_id), B)` (the
    * member-relabel layout) — the classic primary + secondary-index
    * trade: delta-sized write amplification ×2 buys both per-batch
    * probes a statically pruned listing instead of a full-store scan.
    * The probe reads only its bucket list's directories, so the scan
    * fraction is |probed buckets|/B ≤ min(|probe|, B)/B: for the
    * member probe (a handful of changed components) that is a few
    * buckets at any scale; for the endpoint probe it bounds the read
    * at |eps|·(store/B) rows — a deployment sizes B to store-rows /
    * target-bucket-rows so bucket reads approach point lookups; a
    * keyed upsert table (Delta/Hudi merge-on-read) is the limit of the
    * same design. 8 keeps the two-trigger bench's file counts sane;
    * BenchScale's label_store leg passes its own B per factor. */
  private[graft] val LabelBuckets: Int = 8
  private def bktOf(c: org.apache.spark.sql.Column,
                    b: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(c), lit(b.toLong)).cast("int")

  /** Write `labels` (doc, group_id) at `root` in both probe layouts:
    * `<root>` partitioned by doc-bucket, `<root>ByGrp` by group-bucket.
    * The second layout is read back from the first (one extra
    * delta-sized scan) rather than recomputing the delta plan twice. */
  private[graft] def writeLabelDirs(s: SparkSession, labels: DataFrame,
                                    root: java.nio.file.Path, name: String,
                                    b: Int = LabelBuckets): Unit = {
    // cluster by the partition column before the write (guide §6 /
    // Iceberg's hash distribution-mode): without it every write task
    // holds up to B open files — B·tasks small files per dir; with it
    // each bucket lands in one task → one file per bucket
    val doc = root.resolve(name).toString
    labels.withColumn("bkt", bktOf(col("doc"), b))
      .repartition(col("bkt"))
      .write.mode("overwrite").partitionBy("bkt").parquet(doc)
    s.read.parquet(doc).select("doc", "group_id")
      .withColumn("gbkt", bktOf(col("group_id"), b))
      .repartition(col("gbkt"))
      .write.mode("overwrite").partitionBy("gbkt")
      .parquet(root.resolve(name + "ByGrp").toString)
  }

  /** Latest-wins resolution of the log-structured label store: base
    * labels plus each batch's relabel delta, the HIGHEST batch owning
    * a doc's current label. One narrow (doc, group_id) row per doc —
    * the LSM read path; a production deployment compacts this with an
    * upsertable keyed table (Delta/Hudi merge-on-read), same
    * semantics. */
  private[queries] def resolvedLabels(s: SparkSession, paths: Seq[String]): DataFrame =
    resolveLatest(taggedLabels(s, paths))
  /** One tagged union over the store's dirs; a non-empty `bkts` list
    * becomes a literal IN filter on the layout's partition column —
    * static PartitionFilters, so each dir's listing excludes unprobed
    * buckets at plan time (the ss10 move; see [[LabelBuckets]]). */
  private def taggedLabels(s: SparkSession, paths: Seq[String],
                           bktCol: String = "",
                           bkts: Seq[Any] = Nil): DataFrame =
    paths.zipWithIndex.map { case (p, i) =>
      val r = s.read.parquet(p)
      val pruned = if (bktCol.nonEmpty) r.filter(col(bktCol).isin(bkts: _*))
                   else r
      pruned.select(col("doc"), col("group_id"), lit(i).as("__src"))
    }.reduce(_ unionAll _)
  private def resolveLatest(tagged: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(desc("__src"))
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("doc", "group_id")
  }

  /** [[resolvedLabels]] restricted to rows matching a broadcast probe
    * BEFORE the latest-wins window, so the label store is only ever
    * streamed map-side and the resolve shuffle is probe-sized, not
    * corpus-sized — and, since r17, the stream itself is PRUNED: the
    * probe's distinct hash-buckets (a bounded ≤ [[LabelBuckets]]-int
    * collect, the probedCellSet contract) prepend as literal
    * PartitionFilters on `paths`' bucketed layout, so unprobed buckets
    * are never listed, read, or filtered — the r16 verdict's
    * corpus-sized-scan finding. `paths` must be the layout partitioned
    * by `bktCol`'s key (doc → labels/, group_id → labelsByGrp/).
    * Trivially safe for probeCol = "doc" (latest-wins resolves within
    * a doc; all of a doc's rows share its bucket). Safe for probeCol =
    * "group_id" because a superseded label can never become CURRENT
    * again — a component's root is its min doc id and a root change
    * rewrites ALL members of the old root, so the old root id
    * thereafter labels nobody and itself carries a strictly smaller
    * label — hence any stored row whose group_id is a current
    * representative is itself current; bucket pruning only ever drops
    * rows the group_id equi-join would drop anyway (same-key rows
    * share a bucket). */
  private[graft] def resolvedLabelsFor(s: SparkSession, paths: Seq[String],
                                probeCol: String, bktCol: String,
                                probe: DataFrame,
                                b: Int = LabelBuckets): DataFrame = {
    val p = probe.select(probeCol).distinct()
    val bkts = p.select(bktOf(col(probeCol), b).as("__b")).distinct()
      .collect().map(_.get(0)).toSeq
    resolveLatest(taggedLabels(s, paths, bktCol, bkts)
      .join(broadcast(p), Seq(probeCol)))
  }

  /** The INCREMENTALLY MAINTAINED dup-group labels, one run per dir
    * (st18 — r15 verdict ask #4, the production form of dd7): dd7's
    * (doc → component-min group_id) table is persisted once as
    * labels/base; each foreachBatch then relabels ONLY the components
    * its pairs touch, via component CONTRACTION — batch pair endpoints
    * map through the current labels to their component representative
    * (an unlabeled endpoint represents itself), connected components
    * runs on that CONTRACTED graph (∝ batch pairs, never the
    * historical pair set — each rep IS its component's min doc id, so
    * the min over merged reps is the true min over all members), and
    * the relabel delta (members of changed components + newly seen
    * nodes) appends as the batch's own labels/batch=N dir — idempotent
    * under retry (overwrite of its own dir; reads only base + PRIOR
    * batch dirs, the st16 contract). Per-batch SHUFFLE cost ∝ batch +
    * touched-component members; the label table itself is touched by
    * two map-side broadcast-probe streams (endpoint lookup, member
    * relabel) over narrow (doc, group_id) rows — the scans a keyed
    * store (Delta/Hudi) would turn into point lookups at 100 TB.
    * Final labels hash-match batch dd7 over the UNION of all pairs
    * seen — the oracle states exactly that closure. */
  private[graft] def grownDupLabelsDir(s: SparkSession, d: String): String =
    Artifacts.get(Artifacts.Jvm, d, "st18_labels") { own =>
      val stage = own.tree(java.nio.file.Files.createTempDirectory("graft_st18_"))
      writeLabelDirs(s, Dedup.connectedComponents(
          verifiedPairsShared(s, d).select("doc_a", "doc_b"),
          "doc_a", "doc_b"),
        stage.resolve("labels"), "base")
      val docs = Tables.documents(s, d)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_a", org.apache.spark.sql.types.LongType)
        .add("doc_b", org.apache.spark.sql.types.LongType)
      replayArrivals(s, stage, Seq(pairBatch1(docs), pairBatch2(docs)),
          "graft_st18_in_", schema) { (b, batchId) =>
        val labelPaths = storeAsOf(stage, "labels", batchId)        // doc-bucketed
        val grpPaths = storeAsOf(stage, "labels", batchId, "ByGrp") // group-bucketed
        // the batch is read through several plan arms — pin it once
        val prs = b.select(col("doc_a"), col("doc_b")).distinct().cache()
        prs.count()
        try {
          val eps = prs.select(col("doc_a").as("doc"))
            .unionAll(prs.select(col("doc_b").as("doc"))).distinct()
          // endpoint → component representative: label-store stream 1
          // (map-side, broadcast endpoint probe); checkpointed — it's
          // endpoint-sized and read through several arms below
          val found = resolvedLabelsFor(s, labelPaths, "doc", "bkt", eps)
            .select(col("doc"), col("group_id").as("rep"))
            .localCheckpoint(true)
          val missing = eps
            .join(broadcast(found.select("doc")), Seq("doc"), "left_anti")
            .select(col("doc"), col("doc").as("rep"))
          val mapped = found.unionByName(missing)
          val contracted = prs
            .join(broadcast(mapped.select(col("doc").as("doc_a"),
              col("rep").as("rep_a"))), Seq("doc_a"))
            .join(broadcast(mapped.select(col("doc").as("doc_b"),
              col("rep").as("rep_b"))), Seq("doc_b"))
            .select("rep_a", "rep_b")
          val cc = Dedup.connectedComponents(contracted, "rep_a", "rep_b")
            .select(col("doc").as("rep"), col("group_id").as("new_root"))
          // members of components whose root changed: label-store
          // stream 2, probe = the changed reps (see resolvedLabelsFor
          // for why the group_id probe is resolve-safe)
          val changed = cc.filter(col("rep") =!= col("new_root"))
          val memberUpd = resolvedLabelsFor(s, grpPaths, "group_id", "gbkt",
              changed.select(col("rep").as("group_id")))
            .join(broadcast(changed
              .withColumnRenamed("rep", "group_id")), Seq("group_id"))
            .select(col("doc"), col("new_root").as("group_id"))
          val newNodes = missing
            .join(broadcast(cc), Seq("rep"))
            .select(col("doc"), col("new_root").as("group_id"))
          val updates = memberUpd.unionByName(newNodes)
          writeLabelDirs(s, updates, stage.resolve("labels"),
            s"batch=$batchId")
        } finally prs.unpersist(blocking = false)
      }
      stage.toString
    }

  val all: Seq[Q] = Seq(

    Q("st15_stream_ann_topk",
      "Vector-search SERVING as a stream — ANN queries arrive as an " +
        "unbounded micro-batch stream and are answered against the " +
        "STATIC corpus with ss7's exact int8-coarse -> float-refine " +
        "chain, per trigger inside foreachBatch (per-query top-k is " +
        "batch-local, so micro-batch results append with no cross-" +
        "batch merge — the st4 staged-partials shape minus the " +
        "re-aggregation). Per-query top-k needs a rank window, which " +
        "append-mode streaming forbids on the unbounded frame and " +
        "foreachBatch prices correctly: rank over the batch's own " +
        "queries only. The quantized corpus IS the stored ss6 table " +
        "(r14: each trigger's coarse pass reads the persisted tinyint " +
        "parquet — ss9's serving scan, floats point-read only by the " +
        "refine join) and serving latency is the trigger cadence. " +
        "Oracle: ss7's identical SQL — the stream must reproduce the " +
        "batch ANN answer bit-for-bit, which prices the stream " +
        "machinery AND the storage roundtrip at exactly zero result " +
        "drift.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val stored = s.read.parquet(persistedInt8Dir(s, d))
        val qStream = IngestQueries
          .boundedTableStream(s, d, "embeddings.parquet")
          .filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        // topk/ outlives the returned frame's lazy read: one live stage
        // tree per query, replaced (and the prior deleted) by the next
        // build, the rest swept at JVM exit (the st7/st12 policy)
        val stage = Artifacts.replace(Artifacts.Jvm, "", "st15_stage")(
          _.tree(java.nio.file.Files.createTempDirectory("graft_st15_")))
        val outDir = stage.resolve("topk").toString
        val q = qStream.writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", stage.resolve("ckpt").toString)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
            // batchId-keyed overwrite (the st12 versioned-dir pattern),
            // NOT append: a micro-batch retry after a partial write
            // must replace its own directory, never double-append —
            // ranks are computed before the sink, so duplicated rows
            // would diverge from the shared ss7 oracle (r13 ADVICE)
            graft.llm.Similarity.int8RefineTopKStored(stored, "vec_id", "q8",
                emb.select("vec_id", "embedding"), "embedding",
                b, "q_id", "q_vec", shortlist = 20, k = 5)
              .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
            ()
          }
          .start()
        q.awaitTermination()
        graft.LocalRun.deleteRecursively(stage.resolve("ckpt"))
        s.read.parquet(outDir)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(ss7OracleSql)),

    Q("st16_stream_embedding_index",
      "INCREMENTAL embedding-index maintenance (r14 verdict ask #3 — " +
        "the LAST missing incremental form in the modality matrix: " +
        "text dd11, grams st7/st12, images mm10, now embeddings): new " +
        "vectors arrive as a REAL two-trigger file stream; each " +
        "micro-batch quantizes map-side, reports near-dup pairs " +
        "against the CURRENT persisted int8 index (coarse gate = " +
        "quantized cosine over STORED tinyint codes — the index-wide " +
        "scan never reads floats; survivors verify with exact float " +
        "cosine by keyed point-lookup), then APPENDS its quantized " +
        "rows as its own batchId-keyed subdirectory: idempotent under " +
        "micro-batch retry, append-only for the index (per-batch IO " +
        "proportional to the batch — the corpus is never rewritten). " +
        "Planted positives per the dd11/mm10 replay pattern: batch-1 " +
        "replicas match their base source (new-vs-existing); batch-2 " +
        "replicas of every 500th vector match base AND batch 1's " +
        "appended copy — a pair that exists ONLY because the index " +
        "grew; twin replicas inside batch 2 are the new-vs-new " +
        "positives; negated vectors stay silent. Oracle replays both " +
        "batches' gate + verify arithmetic against the exact corpus " +
        "each trigger saw.",
      (s, d) => {
        val dir = grownEmbIndexDir(s, d)
        s.read.parquet(s"$dir/pairs")
          .select(col("new_id"), col("matched_id"), col("matched_side"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim"), col("batch_id"))
          .orderBy("batch_id", "matched_side", "new_id", "matched_id")
      },
      Some(embPairsOracleSql)),

    Q("st17_stream_ann_grown",
      "ANN serving from the GROWN index (closes st16's loop — 'st15 " +
        "then serving the grown corpus'): ss7's exact int8-coarse -> " +
        "float-refine chain runs against the index st16's stream " +
        "built (base + both appended batches, read from the " +
        "batchId-keyed dirs), so the top-k answers differ from ss7's " +
        "precisely by the appended neighbors — a query whose replica " +
        "arrived in batch 1 or 2 now returns it at cosine 1.0. The " +
        "coarse pass scans only the stored (vec_id, q8) columns of " +
        "the grown index; floats point-read at refine. Oracle: the " +
        "SAME ss7 chain template instantiated over the grown corpus " +
        "(base UNION both planted batches), queries drawn from the " +
        "base — serving from a stream-maintained index is " +
        "hash-identical to batch arithmetic over the union.",
      (s, d) => {
        val dir = grownEmbIndexDir(s, d)
        val emb = Tables.embeddings(s, d)
        val idx = s.read.parquet(s"$dir/idx/base",
          s"$dir/idx/batch=0", s"$dir/idx/batch=1")
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.int8RefineTopKStored(idx.select("vec_id", "q8"),
            "vec_id", "q8",
            idx.select("vec_id", "embedding"), "embedding",
            queries, "q_id", "q_vec", shortlist = 20, k = 5)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(ss7ChainSql(
        s"""SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  ${embBatchesSql(0)}
           |  UNION ALL
           |  ${embBatchesSql(1)}""".stripMargin,
        "vec_id % 100 = 0 AND vec_id < 1000000"))),

    Q("st18_stream_dup_groups",
      "INCREMENTAL dup-GROUP maintenance (r15 verdict ask #4 — the " +
        "production form of dd7): every incremental query so far " +
        "emits PAIRS; canonical GROUPS were still batch-recomputed " +
        "from the full historical pair set. Here dd7's (doc -> " +
        "component-min group_id) label table is persisted once, and a " +
        "REAL two-trigger pair-arrival stream relabels ONLY the " +
        "components each batch touches, via component CONTRACTION: " +
        "batch endpoints map through the current labels to their " +
        "representative (label-store stream 1 — map-side, broadcast " +
        "endpoint probe), connected components runs on the CONTRACTED " +
        "graph (cost proportional to the batch, never the historical " +
        "pairs — each rep IS its component's min id, so min over " +
        "merged reps is the true min), and the relabel delta (members " +
        "of changed components via label-store stream 2 + newly seen " +
        "nodes) appends as the batch's own labels/batch=N dir — " +
        "idempotent under retry, reads only base + PRIOR dirs. " +
        "Batch 1 plants attach/merge/new-pair cases; batch 2 chains " +
        "through batch 1's nodes (a component that exists only if " +
        "batch 1's relabel landed — the state-GREW proof) and merges " +
        "a batch-1-born component into an existing one. The final " +
        "latest-wins label view must hash-match batch dd7 over the " +
        "UNION of all pairs ever seen — the oracle states exactly " +
        "that recursive-CTE closure, with dd7's group_size and " +
        "min-id canonical contract.",
      (s, d) => {
        val dir = grownDupLabelsDir(s, d)
        val cur = resolvedLabels(s,
          Seq(s"$dir/labels/base", s"$dir/labels/batch=0",
            s"$dir/labels/batch=1"))
        val wg = org.apache.spark.sql.expressions.Window
          .partitionBy("group_id")
        cur.select(col("doc"), col("group_id"),
            count(lit(1)).over(wg).as("group_size"),
            (col("doc") === col("group_id")).as("is_canonical"))
          .orderBy("doc")
      },
      Some(dupGroupsIncrementalOracleSql)),

    Q("st6_stream_near_dup",
      "STREAMING near-dup curation vs a persisted signature table — " +
        "dd11's production shape with the new-batch axis made " +
        "unbounded (the ingest-time dedup guard every corpus pipeline " +
        "runs): new documents arrive as a stream, pay map-side MinHash " +
        "signing + banding, and band-key join the STATIC existing-" +
        "corpus signature table — the SHUFFLED stream-static equi-join " +
        "(st5's dim joins broadcast; this static side is corpus-" +
        "scale). Matches append to the sink; the batch rollup dedupes " +
        "band collisions and applies the signature-agreement " +
        "threshold. Oracle: the vs-existing arm of dd11 in batch.",
      (s, d) => {
        val newBatch = docsStream(s, d)
          .filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            truncateLastWord(col("text")).as("text"))
        val nw = Dedup.signDocs(newBatch, "doc_id", "text",
            MinhashK, Bands, RowsPerBand)
          .select(col("doc_id").as("new_doc"), col("sig").as("new_sig"),
            explode(col("bands")).as("band_key"))
        // the static side IS the persisted signature table the query
        // description promises: cache it so micro-batches join the
        // materialized signatures instead of re-shingling the corpus
        // text per trigger (r8 review)
        val ex = Artifacts.frame(s, d, "st6_ex_sigs")(
          Dedup.signDocs(Tables.documents(s, d), "doc_id", "text",
              MinhashK, Bands, RowsPerBand)
            .select(col("doc_id").as("matched_doc"), col("sig").as("old_sig"),
              explode(col("bands")).as("band_key")))
        val matches = nw.join(ex, Seq("band_key"))
          .select(col("new_doc"), col("matched_doc"),
            Fmt.t6(Dedup.sigSimilarity(col("new_sig"), col("old_sig")))
              .as("sig_sim"))
        IngestQueries.runToMemory(s, matches, "st6_out_", "append")
          // the same pair can collide in several bands; sig_sim is a pure
          // function of the pair, so max == the value
          .groupBy("new_doc", "matched_doc").agg(max("sig_sim").as("sig_sim"))
          .filter(col("sig_sim") >= 0.5)
          .orderBy("new_doc", "matched_doc")
      },
      Some(
        """WITH newb AS (
          |  SELECT doc_id + 1000000 AS doc_id,
          |         regexp_replace(text, '[ \t\n\x0B\f\r]+[^ \t\n\x0B\f\r]+\z', '') AS text
          |  FROM documents WHERE doc_id % 50 = 0),
          |""".stripMargin +
        signSqlFor("documents", "ex") +
        signSqlFor("newb", "nw") +
        s"""cand AS (
           |  SELECT DISTINCT n.doc_id AS new_doc, e.doc_id AS matched_doc,
           |         n.sig AS new_sig, e.sig AS old_sig
           |  FROM nw_b n JOIN ex_b e USING (band_key))
           |SELECT new_doc, matched_doc,
           |       floor((CAST(list_sum(list_transform(range(1, ${MinhashK + 1}),
           |         i -> CASE WHEN new_sig[i] = old_sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
           |         / $MinhashK) * 1e6 + 1e-6) / 1e6 AS sig_sim
           |FROM cand
           |WHERE floor((CAST(list_sum(list_transform(range(1, ${MinhashK + 1}),
           |         i -> CASE WHEN new_sig[i] = old_sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
           |         / $MinhashK) * 1e6 + 1e-6) / 1e6 >= 0.5
           |ORDER BY new_doc, matched_doc""".stripMargin)),

    Q("st7_stream_substring_dedup",
      "STREAMING exact-substring dedup (r8 verdict ask #4) — tx16's " +
        "ExactSubstr recipe made incremental, the dd11 pattern applied " +
        "to the GRAM TABLE: the corpus's k-gram occurrence counts are " +
        "the persisted index; each arriving batch explodes only its " +
        "own grams, joins them against the table plus its self-counts " +
        "(a span is duplicated when the total reaches 2), emits its " +
        "cleaned text, and ADVANCES the table in foreachBatch — " +
        "already-emitted documents are never retro-edited, the " +
        "defining property of an append pipeline. Two real micro-" +
        "batches (staged files, one per trigger, mod-time ordered): " +
        "day 1 = replayed 12-word heads + novel nv_ tails; day 2 = " +
        "day 1's nv_ tails as heads + fresh nw_ tails, so a day-2 doc " +
        "is cleaned against spans that exist ONLY in day 1's table " +
        "update (doc_id % 150) — the cross-batch evidence. Oracle " +
        "replays both legs' count arithmetic batch by batch; the " +
        "cleaned TEXT itself is hash-checked.",
      (s, d) => {
        val k = 8
        val docs = Tables.documents(s, d)
        val (batch1, batch2, schema) = substrDedupBatches(docs)
        // stage the two arrival days as single files with pinned
        // mod-times: the file source takes one file per micro-batch,
        // oldest first — a real two-trigger replay, not a simulation
        val (stage, inDir) = stageArrivalDays(Seq(batch1, batch2), "graft_st7_")
        // the stage root will hold cleaned/, which the returned lazy
        // frame reads — one live tree per query: registering this run's
        // root deletes the previous run's tree NOW (its frame is
        // consumed), and JVM exit sweeps the current one (r11 + r12 ADVICE)
        Artifacts.replace(Artifacts.Jvm, "", "st7_stage")(_.tree(stage))
        // the persisted index: corpus gram counts, built once per
        // (session, dir) — micro-batches join the MATERIALIZED table,
        // never re-explode corpus text (the st6 signature-table note)
        val baseTable = Artifacts.frame(s, d, "st7_gram_table")(
          Dedup.gramCounts(docs, "doc_id", "text", k))
        var table = baseTable
        val outDir = stage.resolve("cleaned").toString
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", stage.resolve("ckpt").toString)
          .foreachBatch { (b: DataFrame, _: Long) =>
            val cleaned = Dedup.duplicateSpansIncremental(
              table, b, "doc_id", "text", k)
            cleaned.write.mode("append").parquet(outDir)
            val advanced = Dedup.advanceGramCounts(
              table, b, "doc_id", "text", k).cache()
            advanced.count() // materialize while the batch frame is live
            if (!(table eq baseTable)) table.unpersist(blocking = false)
            table = advanced
            ()
          }
          .start()
        q.awaitTermination()
        if (!(table eq baseTable)) table.unpersist(blocking = false)
        // the returned frame reads only cleaned/ — drop the staged
        // arrival days and checkpoint state so repeated builds (bench
        // fitmed3 runs, plan audits, verify) don't accumulate /tmp trees
        graft.LocalRun.deleteRecursively(inDir)
        graft.LocalRun.deleteRecursively(stage.resolve("ckpt"))
        s.read.parquet(outDir).orderBy("doc_id")
      },
      Some(substrIncrementalSql)),

    Q("st8_stream_distinct_sketch",
      "STREAMING bounded-state distinct count — the KMV sketch " +
        "(functions/KmvSketchAgg) as STREAMING AGGREGATION STATE: " +
        "per-language distinct-bigram cardinality maintained across " +
        "micro-batches, k=64 longs per group in the state store " +
        "regardless of how many batches or bigrams arrive — the shape " +
        "a 100 TB ingest pipeline's live cardinality tracker ships " +
        "(countDistinct is UNSUPPORTED in streaming precisely because " +
        "its exact state is unbounded; the sketch is the fix, not a " +
        "workaround). Two staged arrival days (even doc_ids then odd, " +
        "one file per trigger) make the cross-trigger state merge " +
        "REAL: day 2's partial sketches fold into day 1's restored " +
        "state, and KMV's algebraic merge property means the final " +
        "complete-mode table must equal the batch sketch over the " +
        "full corpus — which is exactly what the ORACLE replays " +
        "(sk1's sketch-content arithmetic, checksum-pinned).",
      (s, d) => {
        val k = 64
        val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
        val (stage, inDir) = stageArrivalDays(
          Seq(docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 =!= 0)), "graft_st8_")
        val agg = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
          .select(col("lang"),
            explode(TextOps.wordShingles(TextOps.words(col("text")), 2))
              .as("tok"))
          .groupBy("lang")
          .agg(Sketches.kmvSketch(Sketches.hash60(col("tok")), k).as("sk"))
        val out = IngestQueries.runToMemory(s, agg, "st8_out_", "complete")
          .select(col("lang"),
            size(col("sk")).as("sk_size"),
            Sketches.sketchChecksum(col("sk")).as("sk_checksum"),
            Fmt.t6(Sketches.kmvEstimate(col("sk"), k)).as("est_distinct"))
          .orderBy("lang")
        // complete-mode memory sink holds the final table in memory;
        // the staged arrival days are no longer needed
        graft.LocalRun.deleteRecursively(stage)
        out
      },
      Some {
        val h = Sketches.hash60Sql("tok")
        val est = Sketches.kmvEstimateSql("sk", 64)
        s"""WITH ws0 AS (
           |  SELECT lang, string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |  FROM documents),
           |toks AS (
           |  SELECT lang, unnest(CASE WHEN len(ws) >= 2
           |    THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
           |    ELSE [] END) AS tok
           |  FROM ws0),
           |hh AS (SELECT lang, tok, $h AS h FROM toks),
           |sk AS (SELECT lang, (list_sort(list(DISTINCT h)))[1:64] AS sk
           |       FROM hh GROUP BY lang)
           |SELECT lang,
           |  CAST(len(sk) AS INT) AS sk_size,
           |  ${Sketches.sketchChecksumSql("sk")} AS sk_checksum,
           |  floor(($est) * 1e6 + 1e-6) / 1e6 AS est_distinct
           |FROM sk
           |ORDER BY lang""".stripMargin
      }),

    Q("st9_stream_quantile_sketch",
      "STREAMING bounded-state QUANTILES — st8's state-store move for " +
        "the VALUE-carrying sketch (functions/KmvPairSketchAgg): " +
        "per-language document-length quantiles maintained across " +
        "micro-batches with k=32 (hash, value) pairs per group in the " +
        "state store, however many batches arrive. exact percentile() " +
        "is as unsupported in streaming as countDistinct, for the " +
        "same unbounded-state reason; the mergeable bottom-k sample " +
        "is the fix. Two staged arrival days (even then odd doc_ids) " +
        "make the cross-trigger merge real, and the merge property " +
        "means the final complete-mode sample must equal the batch " +
        "sample over the full corpus — the ORACLE replays sk7's " +
        "hash-rank rebuild and the (m-1)q interpolation, checksum-" +
        "pinning the sample content.",
      (s, d) => {
        val k = 32
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val (stage, inDir) = stageArrivalDays(
          Seq(docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 =!= 0)), "graft_st9_")
        val agg = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
          .groupBy("lang")
          .agg(Sketches.sampleSketch(
            Sketches.hash60(col("doc_id").cast("string")),
            col("n_chars"), k).as("sample"))
        val out = IngestQueries.runToMemory(s, agg, "st9_out_", "complete")
          .select(col("lang"),
            size(col("sample")).as("sample_size"),
            Sketches.sketchChecksum(col("sample")).as("sample_checksum"),
            Fmt.t6(Sketches.sampleQuantile(col("sample"), 0.5)).as("est_p50"),
            Fmt.t6(Sketches.sampleQuantile(col("sample"), 0.95)).as("est_p95"))
          .orderBy("lang")
        graft.LocalRun.deleteRecursively(stage)
        out
      },
      Some {
        val h = Sketches.hash60Sql("CAST(doc_id AS VARCHAR)")
        s"""WITH qh AS (
           |  SELECT lang, n_chars, $h AS h FROM documents),
           |qrk AS (
           |  SELECT lang, n_chars, h,
           |         row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
           |  FROM qh),
           |qsk AS (
           |  SELECT lang, list(n_chars ORDER BY h) AS sample
           |  FROM qrk WHERE rk <= 32 GROUP BY lang)
           |SELECT lang,
           |  CAST(len(sample) AS INT) AS sample_size,
           |  ${Sketches.sketchChecksumSql("sample")} AS sample_checksum,
           |  ${Fmt.sql6(Sketches.sampleQuantileSql("sample", 0.5))} AS est_p50,
           |  ${Fmt.sql6(Sketches.sampleQuantileSql("sample", 0.95))} AS est_p95
           |FROM qsk
           |ORDER BY lang""".stripMargin
      }),

    Q("st11_stream_heavy_hitters",
      "STREAMING heavy hitters — sk5's count-min sketch as STREAMING " +
        "AGGREGATION STATE (r9 verdict ask #8): the (row, bucket) " +
        "occurrence counters ARE a streaming groupBy count, so the " +
        "state store holds at most d*w = 4*1024 long counters however " +
        "many tokens or micro-batches arrive — the bounded-state " +
        "frequency tracker a 100 TB ingest ships where exact per-token " +
        "counts would be vocabulary-sized state. Two staged arrival " +
        "days (even then odd doc_ids, one file per trigger) make the " +
        "cross-trigger counter accumulation real; counts are " +
        "associative sums, so the final complete-mode CMS table must " +
        "equal the batch-built sk5 sketch — pinned IN-QUERY by the " +
        "cms_identical flag (full-outer join of the streamed table vs " +
        "the batch rebuild, zero mismatches) and probed exactly like " +
        "sk5: top-20 exact candidates, broadcast join, min over rows, " +
        "est >= exact guaranteed.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val R = 4; val W = 1024
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val (stage, inDir) = stageArrivalDays(
          Seq(docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 =!= 0)), "graft_st11_")
        val rowIdx = explode(array((0 until R).map(lit): _*)).as("r")
        val agg = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
          .select(explode(TextOps.words(col("text"))).as("tok"))
          .select(col("tok"), rowIdx)
          .select(col("r"), Sketches.cmsBucket(col("r"), col("tok"), W).as("bucket"))
          .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
        val cms = IngestQueries.runToMemory(s, agg, "st11_out_", "complete")
        graft.LocalRun.deleteRecursively(stage)
        // batch rebuild: the merge-identity arm (streamed ≡ batch).
        // cached artifact: the corpus tokenization feeds TWO independent
        // plan arms (batchCms by (r, bucket), exact by tok) with no
        // shareable exchange — the dd10/dd11/llm2 shape (r11
        // review; an uncached frame would pay the corpus scan+split
        // twice per run)
        val toks = Artifacts.frame(s, d, "st11_toks")(
          Tables.documents(s, d)
            .select(explode(TextOps.words(col("text"))).as("tok")))
        val batchCms = toks.select(col("tok"), rowIdx)
          .select(col("r"), Sketches.cmsBucket(col("r"), col("tok"), W).as("bucket"))
          .groupBy("r", "bucket").agg(count(lit(1)).as("b_cnt"))
        // full-outer has no broadcast form; shuffle-hash keeps the
        // 4096-row-bounded identity check out of SortMergeJoin
        val mismatches = cms.join(batchCms.hint("shuffle_hash"),
            Seq("r", "bucket"), "full_outer")
          .filter(col("cnt").isNull || col("b_cnt").isNull ||
            col("cnt") =!= col("b_cnt"))
          .agg(count(lit(1)).as("n_mismatch"))
          .select((col("n_mismatch") === 0).as("cms_identical"))
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        val cand = exact.withColumn("rk", row_number().over(
            Window.orderBy(col("exact_cnt").desc, col("tok"))))
          .filter(col("rk") <= 20)
        val probes = cand.select(col("tok"), col("exact_cnt"), col("rk"), rowIdx)
          .select(col("tok"), col("exact_cnt"), col("rk"), col("r"),
            Sketches.cmsBucket(col("r"), col("tok"), W).as("bucket"))
        probes.join(broadcast(cms), Seq("r", "bucket"))
          .groupBy("tok", "exact_cnt", "rk")
          .agg(min(col("cnt")).as("est_cnt"))
          .crossJoin(broadcast(mismatches))
          .select(col("tok"), col("rk"), col("exact_cnt"), col("est_cnt"),
            (col("est_cnt") >= col("exact_cnt")).as("never_under"),
            col("cms_identical"))
          .orderBy("rk")
      },
      Some {
        val bucket = Sketches.cmsBucketSql("r", "tok", 1024)
        s"""WITH toks AS (
           |  SELECT unnest(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
           |  FROM documents),
           |rws AS (SELECT r.r, tok FROM toks CROSS JOIN range(4) r(r)),
           |cms AS (
           |  SELECT r, $bucket AS bucket, count(*) AS cnt
           |  FROM rws GROUP BY r, bucket),
           |exact AS (SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok),
           |cand AS (
           |  SELECT tok, exact_cnt,
           |    CAST(row_number() OVER (ORDER BY exact_cnt DESC, tok) AS INT) AS rk
           |  FROM exact),
           |probes AS (
           |  SELECT t.tok, t.exact_cnt, t.rk, r.r, $bucket AS bucket
           |  FROM (SELECT * FROM cand WHERE rk <= 20) t CROSS JOIN range(4) r(r)),
           |est AS (
           |  SELECT p.tok, p.exact_cnt, p.rk, min(c.cnt) AS est_cnt
           |  FROM probes p JOIN cms c ON c.r = p.r AND c.bucket = p.bucket
           |  GROUP BY p.tok, p.exact_cnt, p.rk)
           |SELECT tok, rk, exact_cnt, est_cnt,
           |  est_cnt >= exact_cnt AS never_under,
           |  true AS cms_identical
           |FROM est ORDER BY rk""".stripMargin
      }),

    Q("st12_substr_dedup_versioned",
      "st7's streaming exact-substring dedup through the RESTART-SAFE " +
        "versioned-table wiring (streaming/SubstrDedupStream — the r10 " +
        "library + spec, now a registered pipeline pricing its real " +
        "per-batch IO): the gram-count index persists as one parquet " +
        "snapshot per batch (v0 = corpus, batch b reads v{b}, writes " +
        "v{b+1}), cleaned text lands in batch-keyed overwrite dirs — " +
        "both effects idempotent and keyed by the checkpointed " +
        "batchId, so a crash replay at EITHER window converges " +
        "(MicroBatchIngestSpec's kill/restart proof) where st7's " +
        "in-session cached loop has no restart surface. Same staged " +
        "two-day arrival replay and the SAME oracle as st7 — the " +
        "versioned path must be result-identical, paying one extra " +
        "columnar (gram, count) table scan per batch for durability.",
      (s, d) => {
        val k = 8
        val docs = Tables.documents(s, d)
        val (batch1, batch2, schema) = substrDedupBatches(docs)
        val (stage, inDir) = stageArrivalDays(Seq(batch1, batch2), "graft_st12_")
        // cleaned/ stays readable for the returned lazy frame: one live
        // tree per query, the st7 policy
        Artifacts.replace(Artifacts.Jvm, "", "st12_stage")(_.tree(stage))
        val tableDir = stage.resolve("gram_table").toString
        val outDir = stage.resolve("cleaned").toString
        graft.streaming.SubstrDedupStream.initGramTable(
          s, tableDir, docs, "doc_id", "text", k)
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", stage.resolve("ckpt").toString)
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            graft.streaming.SubstrDedupStream.step(
              s, tableDir, outDir, b, batchId, "doc_id", "text", k)
            ()
          }
          .start()
        q.awaitTermination()
        // the returned frame reads only cleaned/ (partition-discovered
        // batch=N dirs); drop the arrival days, checkpoint and the
        // version chain — per-run scratch, the st7 cleanup note
        graft.LocalRun.deleteRecursively(inDir)
        graft.LocalRun.deleteRecursively(stage.resolve("ckpt"))
        graft.LocalRun.deleteRecursively(
          java.nio.file.Paths.get(tableDir))
        s.read.parquet(outDir)
          .select("doc_id", "n_tokens", "n_removed_tokens", "clean_text")
          .orderBy("doc_id")
      },
      Some(substrIncrementalSql)),
  )
}
