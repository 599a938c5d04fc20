package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}
import graft.llm.{Dedup, LangModel, Multimodal, Packing, Repetition, Sampling, Similarity, TextOps}
import graft.ops.Sketches
import graft.streaming.BoundedStream

/** The composed curation chains (llm), each oracle restating its chain
  * stage by stage. No other registry reads this one. */
object LlmQueries extends Q.Registry {
  import Corpus.{LowerWordsSql, corpus, corpusSql}
  import CorpusStreamQueries.{EmbTau, EmbTauQ, gateTerms, qzOver,
    storeAsOf, substrCoverageLeg, substrGramCtes}
  import DedupQueries.{semDedupCoreSql, semanticDupsFrame}
  import MultimodalQueries.imageHashes
  import SearchQueries.q8of
  import TextQueries.{CuratedSources, gopherBaseKeep, gopherQualityCols,
    langPredSqlExpr, partitionedCheckpoint, qualitySqlExpr,
    qualitySqlExprRaw, trainedLm}

  /** tx20's Gopher stop-word count over a `ws` word list, in SQL. */
  private val gopherStopHitsSql: String = TextOps.GopherStops
    .map(w => s"CAST(list_contains(ws, '$w') AS INT)").mkString(" + ")

  /** The `n`-word gram starting at word `u.i` of `ws`, as SQL. */
  private def gramN(n: Int): String = (0 until n).map {
    case 0 => "ws[CAST(u.i AS INT)]"
    case j => s"ws[CAST(u.i AS INT)+$j]"
  }.mkString(" || ' ' || ")

  /** llm8's oracle: the full curation chain replayed batch by batch —
    * st7's gram/coverage machinery ([[substrGramCtes]]) over the SIX
    * planted arms, tx20's Gopher base terms over the cleaned text,
    * and st16's quantized+float cosine gates over survivor vectors vs
    * the index each batch saw (base for batch 1; base ∪ batch-1
    * SURVIVORS for batch 2 — the oracle derives the survivors from
    * its own dedup+quality predicates, so the grown-index evidence is
    * checked as a function of every upstream decision, exactly like
    * the engine). */
  private lazy val curationOracleSql: String = {
    // tx20's Gopher BASE terms over the cleaned text; '' (a fully-
    // deduplicated doc) yields n_words=1, sum_wl=0 → mean 0 → fail
    def qual(src: String, q: String): String =
      raw"""$q AS (
           |  SELECT doc_id, len(ws) AS n_words,
           |    list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b) AS sum_wl,
           |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
           |      / len(ws) AS alpha_frac,
           |    CAST($gopherStopHitsSql AS INT) AS stop_hits
           |  FROM (SELECT doc_id,
           |          string_split_regex(lower(coalesce(clean_text, '')), '[ \t\n\x0B\f\r]+') AS ws
           |        FROM $src)),
           |""".stripMargin
    def rec(out: String, nb: String, q: String, r: String): String =
      raw"""$r AS (
           |  SELECT o.doc_id, n.src_id, o.n_tokens, o.n_removed_tokens,
           |    o.clean_text IS NOT NULL AS dedup_kept,
           |    (qq.n_words BETWEEN 30 AND 100000
           |      AND CAST(qq.sum_wl AS DOUBLE) / qq.n_words >= 3.0
           |      AND CAST(qq.sum_wl AS DOUBLE) / qq.n_words <= 10.0
           |      AND qq.alpha_frac >= 0.8 AND qq.stop_hits >= 1) AS quality_kept
           |  FROM $out o JOIN $nb n USING (doc_id) JOIN $q qq USING (doc_id)),
           |""".stripMargin
    def matchCtes(qsv: String, qidx: String, pe: String, pn: String): String =
      raw"""$pe AS (
           |  SELECT n.doc_id, count(*) AS n_match_existing
           |  FROM $qsv n JOIN $qidx m ON ${gateTerms("n", "m").mkString(" AND ")}
           |  GROUP BY n.doc_id),
           |$pn AS (
           |  SELECT u.doc_id, count(*) AS n_match_new FROM (
           |    SELECT unnest([a.doc_id, b.doc_id]) AS doc_id
           |    FROM $qsv a JOIN $qsv b ON a.doc_id < b.doc_id
           |      AND ${gateTerms("a", "b").mkString(" AND ")}) u
           |  GROUP BY u.doc_id),
           |""".stripMargin
    def finalRec(r: String, pe: String, pn: String, batch: Int): String =
      raw"""SELECT CAST($batch AS BIGINT) AS batch_id, r.doc_id, r.src_id,
           |  r.n_tokens, r.n_removed_tokens, r.dedup_kept, r.quality_kept,
           |  r.dedup_kept AND r.quality_kept AS kept,
           |  e.vec_id IS NOT NULL AS has_embedding,
           |  coalesce($pe.n_match_existing, 0) AS n_match_existing,
           |  coalesce($pn.n_match_new, 0) AS n_match_new
           |FROM $r r LEFT JOIN embeddings e ON e.vec_id = r.src_id
           |  LEFT JOIN $pe ON $pe.doc_id = r.doc_id
           |  LEFT JOIN $pn ON $pn.doc_id = r.doc_id""".stripMargin
    val phrase = "' the data is here for the record r'"
    raw"""WITH dws AS (SELECT doc_id, $LowerWordsSql AS ws FROM documents),
         |nb1 AS (
         |  SELECT doc_id + 1000000 AS doc_id, doc_id AS src_id,
         |    array_to_string(list_concat(list_slice(ws, 1, 12),
         |      list_transform(list_slice(ws, 13, len(ws)), w -> 'nv_' || w)), ' ')
         |    || $phrase || CAST(doc_id + 1000000 AS VARCHAR) AS text
         |  FROM dws WHERE doc_id % 50 = 0
         |  UNION ALL
         |  SELECT doc_id + 1300000, doc_id, text
         |  FROM documents WHERE doc_id % 60 = 0
         |  UNION ALL
         |  SELECT d.doc_id + 1600000, d.doc_id,
         |    d.text || ' ' || array_to_string(
         |      list_transform(list_slice(w.ws, 1, 5), x -> 'nq_' || x), ' ')
         |  FROM documents d JOIN dws w ON d.doc_id = w.doc_id
         |  WHERE d.doc_id % 70 = 0),
         |nb2 AS (
         |  SELECT doc_id + 2000000 AS doc_id, doc_id AS src_id,
         |    array_to_string(list_concat(
         |      list_transform(list_slice(ws, 13, len(ws)), w -> 'nv_' || w),
         |      list_transform(list_slice(ws, 1, 12), w -> 'nw_' || w)), ' ') AS text
         |  FROM dws WHERE doc_id % 150 = 0
         |  UNION ALL
         |  SELECT doc_id + 2300000, doc_id,
         |    array_to_string(list_transform(ws, w -> 'nx_' || w), ' ')
         |    || $phrase || CAST(doc_id + 2300000 AS VARCHAR)
         |  FROM dws WHERE doc_id % 150 = 0
         |  UNION ALL
         |  SELECT doc_id + 2600000, doc_id,
         |    array_to_string(list_transform(ws, w -> 'ny_' || w), ' ')
         |    || $phrase || CAST(doc_id + 2600000 AS VARCHAR)
         |  FROM dws WHERE doc_id % 250 = 0),
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
      qual("out1", "q1") + qual("out2", "q2") +
      rec("out1", "nb1", "q1", "rec1") + rec("out2", "nb2", "q2", "rec2") +
      raw"""sv1 AS (SELECT r.doc_id, e.embedding FROM rec1 r
           |  JOIN embeddings e ON e.vec_id = r.src_id
           |  WHERE r.dedup_kept AND r.quality_kept),
           |sv2 AS (SELECT r.doc_id, e.embedding FROM rec2 r
           |  JOIN embeddings e ON e.vec_id = r.src_id
           |  WHERE r.dedup_kept AND r.quality_kept),
           |idx2 AS (SELECT vec_id, embedding FROM embeddings
           |  UNION ALL SELECT doc_id AS vec_id, embedding FROM sv1),
           |qsv1 AS (${qzOver("sv1", "doc_id")}),
           |qsv2 AS (${qzOver("sv2", "doc_id")}),
           |qidx1 AS (${qzOver("(SELECT vec_id, embedding FROM embeddings)", "vec_id")}),
           |qidx2 AS (${qzOver("idx2", "vec_id")}),
           |""".stripMargin +
      matchCtes("qsv1", "qidx1", "p1e", "p1n") +
      matchCtes("qsv2", "qidx2", "p2e", "p2n") +
      raw"""fin AS (
           |${finalRec("rec1", "p1e", "p1n", 0)}
           |UNION ALL
           |${finalRec("rec2", "p2e", "p2n", 1)})
           |SELECT * FROM fin ORDER BY batch_id, doc_id""".stripMargin
  }

  /** llm4's planted duplicate: a 12-word boilerplate footer appended to
    * every 2nd document — long enough that its interior 8-grams repeat
    * corpus-wide, so the exact-substring stage strips it everywhere. */
  private val Llm4Boiler: String =
    "all material on this page is provided for general information purposes only"

  /** llm4's DuckDB oracle: the full curation chain restated stage by
    * stage — each fragment is the one the standalone oracle ships
    * (tx16 positioned-gram coverage, tx20 text-level quality rules,
    * tx21 top-gram + coverage repetition rules, tx19 E-S weighted
    * sampling, tx6 packing bookkeeping). */
  private lazy val llm4OracleSql: String = {
    // tx21's gram/top/coverage CTE generators, instantiated over the
    // CLEANED word lists (mws)
    def gramsCte(n: Int): String =
      s"""mg$n AS (SELECT doc_id, CAST(u.i AS INT) AS gpos, ${gramN(n)} AS g
         |  FROM mws, unnest(range(1, len(ws) - ${n - 2})) AS u(i)),""".stripMargin
    def topCte(n: Int): String =
      s"""mt$n AS (SELECT doc_id, c * length(g) AS top_chars FROM (
         |  SELECT doc_id, g, count(*) AS c,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY count(*) DESC, length(g) DESC) AS rn
         |  FROM mg$n GROUP BY doc_id, g) WHERE rn = 1),""".stripMargin
    def covCte(n: Int): String =
      s"""xd$n AS (SELECT doc_id, g FROM mg$n GROUP BY doc_id, g HAVING count(*) >= 2),
         |xf$n AS (SELECT mg$n.doc_id, gpos FROM mg$n
         |  JOIN xd$n ON mg$n.doc_id = xd$n.doc_id AND mg$n.g = xd$n.g),
         |xc$n AS (SELECT mtok.doc_id, tpos, wl, xf$n.gpos AS marker
         |  FROM mtok LEFT JOIN xf$n
         |    ON mtok.doc_id = xf$n.doc_id AND mtok.tpos = xf$n.gpos),
         |xv$n AS (SELECT doc_id, wl,
         |    max(marker) OVER (PARTITION BY doc_id ORDER BY tpos
         |      ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)
         |      IS NOT NULL AS cov
         |  FROM xc$n),
         |xs$n AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN cov THEN wl ELSE 0 END) AS DOUBLE) / sum(wl)
         |      AS dup$n
         |  FROM xv$n GROUP BY doc_id),""".stripMargin
    val h = Sketches.hash60Sql("CAST(doc_id AS VARCHAR)")
    raw"""WITH f4 AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN doc_id % 2 = 0 THEN text || ' $Llm4Boiler'
         |         ELSE text END AS text
         |  FROM documents),
         |ft AS (SELECT doc_id, $LowerWordsSql AS ws FROM f4),
         |ftok AS (SELECT doc_id, CAST(u.i AS INT) AS tpos, ws[CAST(u.i AS INT)] AS token
         |  FROM ft, unnest(range(1, len(ws) + 1)) AS u(i)),
         |fg AS (SELECT doc_id, CAST(u.i AS INT) AS gpos, ${gramN(8)} AS gram
         |  FROM ft, unnest(range(1, len(ws) - 6)) AS u(i)),
         |fdup AS (SELECT gram FROM fg GROUP BY gram HAVING count(*) >= 2),
         |ff AS (SELECT g.doc_id, g.gpos FROM fg g JOIN fdup USING (gram)),
         |ftf AS (SELECT tok.doc_id, tok.tpos, tok.token, f.gpos AS marker
         |  FROM ftok tok LEFT JOIN ff f
         |    ON tok.doc_id = f.doc_id AND tok.tpos = f.gpos),
         |fcov AS (SELECT doc_id, tpos, token,
         |    max(marker) OVER (PARTITION BY doc_id ORDER BY tpos
         |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) IS NOT NULL AS covered
         |  FROM ftf),
         |fcl AS (SELECT doc_id,
         |    CASE WHEN count(*) = sum(CASE WHEN covered THEN 1 ELSE 0 END)
         |         THEN NULL
         |         ELSE string_agg(CASE WHEN NOT covered THEN token END, ' ' ORDER BY tpos)
         |    END AS clean_text
         |  FROM fcov GROUP BY doc_id),
         |c2 AS (SELECT f4.doc_id, f4.lang, fcl.clean_text AS text
         |  FROM fcl JOIN f4 USING (doc_id) WHERE fcl.clean_text IS NOT NULL),
         |mws AS (SELECT doc_id, lang, text, $LowerWordsSql AS ws FROM c2),
         |qm AS (SELECT doc_id,
         |    len(ws) AS n_words,
         |    list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b)
         |      AS sum_wl,
         |    CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
         |      / len(ws) AS hash_ratio,
         |    CAST(len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
         |      / len(ws) AS ellipsis_ratio,
         |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |      / len(ws) AS alpha_frac,
         |    CAST($gopherStopHitsSql AS INT) AS stop_hits
         |  FROM mws),
         |mtok AS (SELECT doc_id, CAST(u.i AS INT) AS tpos,
         |    length(ws[CAST(u.i AS INT)]) AS wl
         |  FROM mws, unnest(range(1, len(ws) + 1)) AS u(i)),
         |${Seq(2, 3, 4, 5, 10).map(gramsCte).mkString("\n")}
         |${Seq(2, 3, 4).map(topCte).mkString("\n")}
         |${Seq(5, 10).map(covCte).mkString("\n")}
         |keepj AS (
         |  SELECT mws.doc_id, lang, text, ws FROM mws
         |  JOIN qm ON mws.doc_id = qm.doc_id
         |  LEFT JOIN mt2 ON mws.doc_id = mt2.doc_id
         |  LEFT JOIN mt3 ON mws.doc_id = mt3.doc_id
         |  LEFT JOIN mt4 ON mws.doc_id = mt4.doc_id
         |  LEFT JOIN xs5 ON mws.doc_id = xs5.doc_id
         |  LEFT JOIN xs10 ON mws.doc_id = xs10.doc_id
         |  WHERE n_words BETWEEN 30 AND 100000
         |    AND CAST(sum_wl AS DOUBLE) / n_words >= 3.0
         |    AND CAST(sum_wl AS DOUBLE) / n_words <= 10.0
         |    AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
         |    AND alpha_frac >= 0.8 AND stop_hits >= 1
         |    AND CAST(coalesce(mt2.top_chars, 0) AS DOUBLE) / sum_wl <= 0.20
         |    AND CAST(coalesce(mt3.top_chars, 0) AS DOUBLE) / sum_wl <= 0.18
         |    AND CAST(coalesce(mt4.top_chars, 0) AS DOUBLE) / sum_wl <= 0.16
         |    AND coalesce(dup5, 0.0) <= 0.15 AND coalesce(dup10, 0.0) <= 0.10),
         |kq AS (SELECT lang, doc_id, text, $qualitySqlExprRaw AS quality
         |  FROM keepj),
         |keyed AS (SELECT lang, doc_id, text, quality,
         |    power(($h + 1) / 1152921504606846976.0, 1.0 / quality) AS es_key
         |  FROM kq),
         |ranked AS (SELECT lang, doc_id, text, quality,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY es_key DESC, doc_id) AS INT) AS rk
         |  FROM keyed),
         |stoks AS (SELECT lang, rk, doc_id, quality, text,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT)
         |      AS n_tokens,
         |    md5(CAST(doc_id AS VARCHAR)) AS sk
         |  FROM ranked WHERE rk <= 20),
         |laid AS (SELECT lang, rk, doc_id, quality, text, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY sk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS start_tok
         |  FROM stoks)
         |SELECT lang, rk, doc_id,
         |  floor(quality * 1e6 + 1e-6) / 1e6 AS quality,
         |  n_tokens, start_tok,
         |  start_tok // 512 AS bin_first,
         |  greatest(start_tok // 512, (start_tok + n_tokens - 1) // 512) AS bin_last,
         |  greatest(start_tok // 512, (start_tok + n_tokens - 1) // 512)
         |    > start_tok // 512 AS spans_boundary,
         |  md5(text) AS text_fp
         |FROM laid ORDER BY lang, rk""".stripMargin
  }

  /** llm5's DuckDB oracle (r13 verdict stretch): the crawl chain
    * restated stage by stage — mm8's analytic extraction form (the
    * HTML builds deterministically around the document, so the
    * extracted text is 'alpha & beta doc <id> <text>' + plants; the
    * REAL javax extraction is what the Spark side runs, proven
    * equivalent by mm8's own green oracle), tx16's positioned-gram
    * coverage over the EXTRACTED corpus, tx20's text-level quality
    * rules + tx17's blocklist, tx13's token-budget mixture. */
  private lazy val llm5OracleSql: String = {
    raw"""WITH xt AS (
         |  SELECT doc_id, lang,
         |    'alpha & beta doc ' || CAST(doc_id AS VARCHAR) || ' ' || text ||
         |    (CASE WHEN doc_id % 2 = 0 THEN ' $Llm4Boiler' ELSE '' END) ||
         |    (CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum dolor sit amet'
         |          ELSE '' END) AS text
         |  FROM documents WHERE doc_id % 37 <> 0),
         |ft AS (SELECT doc_id, $LowerWordsSql AS ws FROM xt),
         |ftok AS (SELECT doc_id, CAST(u.i AS INT) AS tpos, ws[CAST(u.i AS INT)] AS token
         |  FROM ft, unnest(range(1, len(ws) + 1)) AS u(i)),
         |fg AS (SELECT doc_id, CAST(u.i AS INT) AS gpos, ${gramN(8)} AS gram
         |  FROM ft, unnest(range(1, len(ws) - 6)) AS u(i)),
         |fdup AS (SELECT gram FROM fg GROUP BY gram HAVING count(*) >= 2),
         |ff AS (SELECT g.doc_id, g.gpos FROM fg g JOIN fdup USING (gram)),
         |ftf AS (SELECT tok.doc_id, tok.tpos, tok.token, f.gpos AS marker
         |  FROM ftok tok LEFT JOIN ff f
         |    ON tok.doc_id = f.doc_id AND tok.tpos = f.gpos),
         |fcov AS (SELECT doc_id, tpos, token,
         |    max(marker) OVER (PARTITION BY doc_id ORDER BY tpos
         |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) IS NOT NULL AS covered
         |  FROM ftf),
         |fcl AS (SELECT doc_id,
         |    CASE WHEN count(*) = sum(CASE WHEN covered THEN 1 ELSE 0 END)
         |         THEN NULL
         |         ELSE string_agg(CASE WHEN NOT covered THEN token END, ' ' ORDER BY tpos)
         |    END AS clean_text
         |  FROM fcov GROUP BY doc_id),
         |c2 AS (SELECT xt.doc_id, xt.lang, fcl.clean_text AS text
         |  FROM fcl JOIN xt USING (doc_id) WHERE fcl.clean_text IS NOT NULL),
         |mws AS (SELECT doc_id, lang, text, $LowerWordsSql AS ws FROM c2),
         |qm AS (SELECT doc_id,
         |    len(ws) AS n_words,
         |    list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b)
         |      AS sum_wl,
         |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |      / len(ws) AS alpha_frac,
         |    CAST($gopherStopHitsSql AS INT) AS stop_hits
         |  FROM mws),
         |kept AS (SELECT mws.doc_id, lang, text FROM mws
         |  JOIN qm ON mws.doc_id = qm.doc_id
         |  WHERE n_words BETWEEN 30 AND 100000
         |    AND CAST(sum_wl AS DOUBLE) / n_words >= 3.0
         |    AND CAST(sum_wl AS DOUBLE) / n_words <= 10.0
         |    AND alpha_frac >= 0.8 AND stop_hits >= 1
         |    AND NOT contains(lower(text), 'lorem ipsum')),
         |t AS (SELECT doc_id, lang, text,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT)
         |      AS n_tokens,
         |    md5(CAST(doc_id AS VARCHAR)) AS sk
         |  FROM kept),
         |c AS (SELECT doc_id, lang, text, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY sk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM t)
         |SELECT doc_id, lang, n_tokens, cum_before, md5(text) AS text_fp
         |FROM c
         |WHERE coalesce(cum_before < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 1000
         |                                      WHEN 'es' THEN 1000 WHEN 'fr' THEN 1000
         |                                      WHEN 'zh' THEN 1000 END, false)
         |ORDER BY doc_id""".stripMargin
  }

  /** llm8's planted crawl-arrival batches: (doc_id, src_id, text)
    * records derived from the documents table by pure id/word
    * arithmetic so the oracle regenerates them in SQL. `src_id` is
    * the record's content key — the embedding modality joins on it
    * (vec_id = src_id where an embedding exists), the realistic
    * multi-modal crawl record shape. Six arms plant every stage an
    * outcome in both directions:
    *   batch 1 — TRIM (+1.0M, %50): 12-word replayed head (trimmed
    *   against the corpus gram table) + nv_ novel tail + a stop-word
    *   phrase closed by the doc's unique id (so no 8-gram of the
    *   7-word common phrase can repeat); quality then splits on the
    *   doc's own length (clean = len−4 words vs Gopher's ≥30).
    *   KILLED (+1.3M, %60): full corpus replay — every gram dups,
    *   clean_text NULL. SHORT-TAIL (+1.6M, %70): full replay + 5 nq_
    *   words — dedup keeps 5 words, quality drops them.
    *   batch 2 — CROSS-TRIM (+2.0M, %150): batch 1's nv_ tail
    *   replayed as head + nw_ 12-word tail — its dup grams exist
    *   ONLY in batch 1's table advance (the cross-batch dedup
    *   proof); survivors are 12 words → quality drops. PROBER
    *   (+2.3M, %150): fully novel nx_ words + phrase — passes both
    *   gates, and its embedding (vec src_id) matches base AND the
    *   batch-1 appended vector where batch 1's trim doc survived:
    *   n_match_existing ≥ 2 is the index-GREW proof. TWIN (+2.6M,
    *   %250): novel ny_ words + phrase — where %750 aligns it with a
    *   PROBER doc they share src_id, the new-vs-new positive. */
  private def curPhrase(id: org.apache.spark.sql.Column) =
    concat(lit("the data is here for the record r"), id)
  private def curBatch1(docs: DataFrame): DataFrame = {
    val ws = TextOps.words(col("text"))
    val nvTail = transform(slice(ws, 13, 1 << 20), w => concat(lit("nv_"), w))
    val trim = docs.filter(col("doc_id") % 50 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"), col("doc_id").as("src_id"),
      concat_ws(" ",
        array_join(concat(slice(ws, 1, 12), nvTail), " "),
        curPhrase(col("doc_id") + 1000000L)).as("text"))
    val killed = docs.filter(col("doc_id") % 60 === 0).select(
      (col("doc_id") + 1300000L).as("doc_id"), col("doc_id").as("src_id"),
      col("text"))
    val shortTail = docs.filter(col("doc_id") % 70 === 0).select(
      (col("doc_id") + 1600000L).as("doc_id"), col("doc_id").as("src_id"),
      concat_ws(" ", col("text"),
        array_join(transform(slice(ws, 1, 5), w => concat(lit("nq_"), w)),
          " ")).as("text"))
    trim.unionAll(killed).unionAll(shortTail)
  }
  private def curBatch2(docs: DataFrame): DataFrame = {
    val ws = TextOps.words(col("text"))
    val nvTail = transform(slice(ws, 13, 1 << 20), w => concat(lit("nv_"), w))
    val crossTrim = docs.filter(col("doc_id") % 150 === 0).select(
      (col("doc_id") + 2000000L).as("doc_id"), col("doc_id").as("src_id"),
      array_join(concat(nvTail,
        transform(slice(ws, 1, 12), w => concat(lit("nw_"), w))), " ")
        .as("text"))
    val prober = docs.filter(col("doc_id") % 150 === 0).select(
      (col("doc_id") + 2300000L).as("doc_id"), col("doc_id").as("src_id"),
      concat_ws(" ",
        array_join(transform(ws, w => concat(lit("nx_"), w)), " "),
        curPhrase(col("doc_id") + 2300000L)).as("text"))
    val twin = docs.filter(col("doc_id") % 250 === 0).select(
      (col("doc_id") + 2600000L).as("doc_id"), col("doc_id").as("src_id"),
      concat_ws(" ",
        array_join(transform(ws, w => concat(lit("ny_"), w)), " "),
        curPhrase(col("doc_id") + 2600000L)).as("text"))
    crossTrim.unionAll(prober).unionAll(twin)
  }

  /** The STREAMING END-TO-END curation pipeline, run once per dir
    * (llm8 — r15 verdict ask #8, the stretch: the production crawl
    * loop composed from the incremental forms that now all exist):
    * each arriving micro-batch of (doc_id, src_id, text) records runs
    * st7's incremental exact-substring dedup against the gram table
    * so far → tx20's Gopher base quality gate on the CLEANED text →
    * st16's near-dup check of survivors' embeddings against the
    * persisted int8 index → appends the survivors' vectors as the
    * batch's own batchId-keyed index dir and ADVANCES the gram table
    * — one foreachBatch body, every stage the same operator its
    * standalone query prices. Per-doc output records every decision
    * (counts, gate booleans, match counts); batch-2 evidence depends
    * on batch-1 STATE three ways (advanced gram table, grown index,
    * survivor-gated appends), and the oracle replays the whole chain
    * batch by batch. Idempotent under retry: out/ and idx/ writes
    * are batchId-keyed overwrites, the gram table is advanced
    * in-session (the st7 form; st12 is the durable-table variant of
    * the same step). */
  private[queries] def curationDir(s: SparkSession, d: String): String =
    Artifacts.get(Artifacts.Jvm, d, "llm8_curation") { own =>
      val k = 8
      val stage = own.tree(java.nio.file.Files.createTempDirectory("graft_llm8_"))
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      emb.select(col("vec_id"), col("embedding"),
          q8of(col("embedding")).as("q8"))
        .write.mode("overwrite").parquet(stage.resolve("idx/base").toString)
      val baseTable = Artifacts.frame(s, d, "st7_gram_table")(
        Dedup.gramCounts(docs, "doc_id", "text", k))
      var table = baseTable
      // replay guard (r16 ADVICE): out/ and idx/ are batchId-keyed
      // overwrites (idempotent), but the in-memory gram-table advance
      // is not — if the checkpoint commit fails AFTER the body ran,
      // Spark replays the batch and the grams would fold in twice.
      // Advancing only for a batchId we have not advanced past makes
      // the replay a no-op (the durable-state form of the same guard
      // is st12's batchId-keyed versioned table).
      var lastAdvanced = -1L
      BoundedStream.foreachBatch(
          BoundedStream.arrivals(_, Seq(curBatch1(docs), curBatch2(docs)))) { (b, batchId) =>
        val bc = b.cache(); bc.count()
        try {
          // stage 1: incremental exact-substring dedup (st7's step)
          val cleaned = Dedup.duplicateSpansIncremental(
              table, bc, "doc_id", "text", k)
            .join(bc.select("doc_id", "src_id"), Seq("doc_id"))
          // stage 2: Gopher base quality on the CLEANED text (tx20's
          // gate; '' for a fully-deduplicated doc fails every term)
          val rec = gopherQualityCols(cleaned.withColumn("text",
              coalesce(col("clean_text"), lit(""))))
            .withColumn("dedup_kept", col("clean_text").isNotNull)
            .withColumn("quality_kept", gopherBaseKeep)
            .withColumn("kept", col("dedup_kept") && col("quality_kept"))
            .select("doc_id", "src_id", "n_tokens", "n_removed_tokens",
              "dedup_kept", "quality_kept", "kept")
            .localCheckpoint(true) // small; read by 3 arms below
          // stage 3: survivors with an embedding probe the CURRENT
          // index (st16's near-dup check) …
          val surv = rec.filter(col("kept"))
            .join(emb.select(col("vec_id"), col("embedding")),
              col("src_id") === col("vec_id"))
            .select(col("doc_id"), col("embedding"))
            .localCheckpoint(true) // bounded by the batch
          val idx = s.read.parquet(storeAsOf(stage, "idx", batchId): _*)
          val pairs = Similarity.int8NearDupPairs(
              idx.select("vec_id", "q8"), "vec_id", "q8",
              idx.select("vec_id", "embedding"), "embedding",
              surv, "doc_id", "embedding", EmbTauQ, EmbTau)
            .localCheckpoint(true)
          val nExist = pairs.filter(col("matched_side") === "existing")
            .groupBy(col("new_id").as("doc_id"))
            .agg(count(lit(1)).as("n_match_existing"))
          val nNew = pairs.filter(col("matched_side") === "new")
            .select(explode(array(col("new_id"), col("matched_id")))
              .as("doc_id"))
            .groupBy("doc_id").agg(count(lit(1)).as("n_match_new"))
          // nExist/nNew are batch-bounded aggregates of a
          // localCheckpointed frame — AQE sees an ExistingRDD with
          // unknown stats and falls back to SortMergeJoin without the
          // hints (two Sort+Exchange pairs per micro-batch, the r16
          // plan-audit finding); the explicit broadcast restores the
          // hash join the batch-sized build side warrants.
          val out = rec
            .join(emb.select(col("vec_id")),
              col("src_id") === col("vec_id"), "left")
            .withColumn("has_embedding", col("vec_id").isNotNull)
            .drop("vec_id")
            .join(broadcast(nExist), Seq("doc_id"), "left")
            .join(broadcast(nNew), Seq("doc_id"), "left")
            .select(lit(batchId).as("batch_id"), col("doc_id"),
              col("src_id"), col("n_tokens"), col("n_removed_tokens"),
              col("dedup_kept"), col("quality_kept"), col("kept"),
              col("has_embedding"),
              coalesce(col("n_match_existing"), lit(0L))
                .as("n_match_existing"),
              coalesce(col("n_match_new"), lit(0L)).as("n_match_new"))
          out.write.mode("overwrite")
            .parquet(stage.resolve(s"out/batch=$batchId").toString)
          // stage 4: append survivors' vectors (the index GROWS) …
          surv.select(col("doc_id").as("vec_id"), col("embedding"),
              q8of(col("embedding")).as("q8"))
            .write.mode("overwrite")
            .parquet(stage.resolve(s"idx/batch=$batchId").toString)
          // … and advance the gram table (st7's loop) — once per
          // batchId, so a commit-failure replay cannot double-fold
          if (batchId > lastAdvanced) {
            val advanced = Dedup.advanceGramCounts(
              table, bc, "doc_id", "text", k).cache()
            advanced.count()
            if (!(table eq baseTable)) table.unpersist(blocking = false)
            table = advanced
            lastAdvanced = batchId
          }
        } finally bc.unpersist(blocking = false)
      }
      if (!(table eq baseTable)) table.unpersist(blocking = false)
      stage.toString
    }

  /** llm2's oracle: the tx9 → tx7 → tx12 → tx13 chain restated as one
    * CTE pipeline — each fragment is the SAME SQL its standalone
    * query's oracle ships (line dedup reassembly, the redact regex
    * chain, the hashed-bigram LM with backoff/floor, the exclusive
    * running-sum budget window). */
  private def llm2OracleSql: String =
    s"""WITH lined AS (
       |  SELECT doc_id,
       |    concat_ws(' ', text, 'reach user' || doc_id || '@corpus.example.net') ||
       |    CASE WHEN doc_id % 3 = 0
       |         THEN chr(10) || 'follow us on social media for updates' ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0
       |         THEN chr(10) || 'all rights reserved worldwide' ELSE '' END AS text
       |  FROM documents),
       |llines AS (
       |  SELECT doc_id,
       |         unnest(string_split(text, chr(10))) AS line,
       |         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
       |  FROM lined),
       |common AS (
       |  SELECT line AS cline FROM llines
       |  GROUP BY line HAVING count(DISTINCT doc_id) >= 5),
       |cleaned0 AS (
       |  SELECT doc_id,
       |         string_agg(CASE WHEN cline IS NULL THEN line END,
       |                    chr(10) ORDER BY pos) AS text
       |  FROM llines l LEFT JOIN common c ON l.line = c.cline
       |  GROUP BY doc_id),
       |cleaned AS (
       |  SELECT c.doc_id, c.text, d.lang, d.source
       |  FROM cleaned0 c JOIN documents d USING (doc_id)
       |  WHERE c.text IS NOT NULL),
       |safe AS (
       |  SELECT doc_id,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |        'https?://[^ \\t\\n\\x0B\\f\\r]+', '<URL>', 'g'),
       |      '\\b[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}\\b', '<PHONE>', 'g') AS text,
       |    lang, source
       |  FROM cleaned),
       |gs AS (
       |  SELECT doc_id, source,
       |         CASE WHEN len(ws) >= 2
       |           THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
       |           ELSE [] END AS gl
       |  FROM (SELECT doc_id, source,
       |               string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
       |        FROM safe)),
       |bg AS (
       |  SELECT doc_id, source,
       |         CAST(CAST(('0x' || substring(md5(string_split(g, ' ')[1]), 1, 8)) AS UBIGINT) % 256 AS BIGINT) AS b1,
       |         CAST(CAST(('0x' || substring(md5(string_split(g, ' ')[2]), 1, 8)) AS UBIGINT) % 256 AS BIGINT) AS b2
       |  FROM (SELECT doc_id, source, unnest(gl) AS g FROM gs)),
       |c2 AS (
       |  SELECT b1, b2, count(*) AS c2 FROM bg
       |  WHERE source IN ('src0','src1','src2','src3')
       |  GROUP BY b1, b2),
       |c1 AS (SELECT b1, sum(c2) AS c1 FROM c2 GROUP BY b1),
       |plp AS (
       |  SELECT b1, b2,
       |         floor((ln((c2 + 1.0) / (c1 + 256.0))) * 1e6 + 1e-6) / 1e6 AS logp
       |  FROM c2 JOIN c1 USING (b1)),
       |bo AS (
       |  SELECT b1,
       |         floor((ln(1.0 / (c1 + 256.0))) * 1e6 + 1e-6) / 1e6 AS backoff
       |  FROM c1),
       |scored AS (
       |  SELECT doc_id,
       |         floor((avg(coalesce(logp, backoff, ${math.log(1.0 / 256)}))) * 1e6 + 1e-6) / 1e6 AS avg_logp
       |  FROM bg
       |  LEFT JOIN plp USING (b1, b2)
       |  LEFT JOIN bo USING (b1)
       |  GROUP BY doc_id),
       |kept AS (
       |  SELECT s.doc_id, s.text, s.lang,
       |         floor((exp(-sc.avg_logp)) * 1e3 + 1e-6) / 1e3 AS ppl
       |  FROM safe s JOIN scored sc USING (doc_id)
       |  WHERE floor((exp(-sc.avg_logp)) * 1e3 + 1e-6) / 1e3 <= 60.0),
       |tt AS (
       |  SELECT doc_id, lang, ppl,
       |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens,
       |         md5(CAST(doc_id AS VARCHAR)) AS sk
       |  FROM kept),
       |cum AS (
       |  SELECT doc_id, lang, ppl, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (
       |           PARTITION BY lang ORDER BY sk, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM tt),
       |sel AS (
       |  SELECT * FROM cum
       |  WHERE coalesce(cum_before < CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 1500
       |                                        WHEN 'es' THEN 1500 WHEN 'fr' THEN 1500
       |                                        WHEN 'zh' THEN 1500 END, false))
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       floor((avg(ppl)) * 1e6 + 1e-6) / 1e6 AS avg_ppl
       |FROM sel GROUP BY lang ORDER BY lang""".stripMargin

  /** llm6's oracle: text pairs via the duplicated-gram self-join
    * (tx16's gram construction), image pairs via mm9's full
    * pixel→dHash→band restatement over the llm6 carrier population,
    * closure via dd7's recursive CTE over the union. */
  private def llm6OracleSql: String =
    corpusSql.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """t AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
        |       FROM corpus),
        |g AS (SELECT doc_id,
        |             ws[CAST(u.i AS INT)] || ' ' || ws[CAST(u.i AS INT)+1] || ' ' ||
        |             ws[CAST(u.i AS INT)+2] || ' ' || ws[CAST(u.i AS INT)+3] || ' ' ||
        |             ws[CAST(u.i AS INT)+4] || ' ' || ws[CAST(u.i AS INT)+5] || ' ' ||
        |             ws[CAST(u.i AS INT)+6] || ' ' || ws[CAST(u.i AS INT)+7] AS gram
        |      FROM t, unnest(range(1, len(ws) - 6)) AS u(i)),
        |dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |tg AS (SELECT DISTINCT doc_id, gram FROM g JOIN dupg USING (gram)),
        |tp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM tg a JOIN tg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |m AS (
        |  SELECT 10*i AS id,
        |         CASE WHEN (10*i) % 30 = 20 THEN 10*i - 10 ELSE 10*i END AS src,
        |         CASE WHEN (10*i) % 30 = 20 THEN 1 ELSE 0 END AS d
        |  FROM (SELECT unnest(range(0, 50)) AS i)),
        |pix AS (
        |  SELECT m.id, xx.x, yy.y,
        |    CASE WHEN m.d = 1 AND xx.x = 0 AND yy.y = 0
        |         THEN ((3*(m.src%7+1)*xx.x + 5*(m.src%11+1)*yy.y + m.src) % 256 + 1) % 256
        |         ELSE (3*(m.src%7+1)*xx.x + 5*(m.src%11+1)*yy.y + m.src) % 256 END AS v
        |  FROM m, (SELECT unnest(range(0, 18)) AS x) xx,
        |       (SELECT unnest(range(0, 16)) AS y) yy),
        |blk AS (
        |  SELECT id, x // 2 AS bx, y // 2 AS by, SUM(v) AS s
        |  FROM pix GROUP BY id, x // 2, y // 2),
        |bits AS (
        |  SELECT l.id, l.bx AS x, l.by AS y, (l.s > r.s) AS bit
        |  FROM blk l JOIN blk r ON l.id = r.id AND r.bx = l.bx + 1 AND r.by = l.by
        |  WHERE l.bx <= 7 AND l.by <= 7),
        |hh AS (
        |  SELECT id,
        |    CAST(SUM(CASE WHEN bit AND y < 4
        |                  THEN (CAST(1 AS BIGINT) << CAST(y*8+x AS INT))
        |                  ELSE 0 END) AS BIGINT) AS h_lo,
        |    CAST(SUM(CASE WHEN bit AND y >= 4
        |                  THEN (CAST(1 AS BIGINT) << CAST((y-4)*8+x AS INT))
        |                  ELSE 0 END) AS BIGINT) AS h_hi
        |  FROM bits GROUP BY id),
        |bands AS (
        |  SELECT id, h_lo, h_hi, bb.b AS band,
        |    CASE bb.b WHEN 0 THEN h_lo & 65535
        |              WHEN 1 THEN (h_lo >> 16) & 65535
        |              WHEN 2 THEN h_hi & 65535
        |              ELSE (h_hi >> 16) & 65535 END AS band_val
        |  FROM hh, (SELECT unnest(range(0, 4)) AS b) bb),
        |ip AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
        |           a.h_lo AS lo_a, a.h_hi AS hi_a, b.h_lo AS lo_b, b.h_hi AS hi_b
        |    FROM bands a
        |    JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
        |                AND a.id < b.id)
        |  WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6),
        |allp AS (SELECT doc_a, doc_b FROM tp UNION SELECT doc_a, doc_b FROM ip),
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
        |SELECT doc AS doc_id, group_id,
        |       count(*) OVER (PARTITION BY group_id) AS group_size,
        |       doc = group_id AS is_canonical
        |FROM comp ORDER BY doc_id""".stripMargin

  val all: Seq[Q] = Seq(

    Q("llm8_stream_curation",
      "STREAMING END-TO-END CURATION (r15 verdict ask #8, the " +
        "stretch — the production crawl loop composed from the " +
        "incremental forms that now all exist): a real two-trigger " +
        "stream of (doc_id, src_id, text) crawl records where each " +
        "micro-batch runs st7's incremental exact-substring dedup " +
        "against the gram table SO FAR -> tx20's Gopher base quality " +
        "gate on the CLEANED text -> st16's int8 near-dup check of " +
        "survivors' embeddings (vec joined on src_id — the " +
        "multi-modal record shape; text-only records skip the ANN " +
        "stage) against the persisted index -> appends survivors' " +
        "vectors as the batch's own index dir and ADVANCES the gram " +
        "table. Batch-2 evidence depends on batch-1 STATE three " +
        "ways: its dup grams exist only in batch 1's table advance " +
        "(cross-trim arm), its probers match batch-1 APPENDED " +
        "vectors (n_match_existing >= 2 — the index-GREW proof, " +
        "possible only where batch 1's trim doc survived BOTH " +
        "gates), and the appends themselves are survivor-gated, so " +
        "the index content is a function of every upstream decision. " +
        "Six planted arms split every gate both ways (see " +
        "curBatch1/2). The oracle replays the ENTIRE chain batch by " +
        "batch — gram counts, coverage, quality terms, quantized + " +
        "float cosine gates — and the per-doc decision record is " +
        "hash-checked end to end.",
      (s, d) => {
        val dir = curationDir(s, d)
        s.read.parquet(s"$dir/out/batch=0", s"$dir/out/batch=1")
          .orderBy("batch_id", "doc_id")
      },
      Some(curationOracleSql)),

    Q("llm1_curation_pipeline",
      "Flagship end-to-end corpus curation — the pipeline a training-" +
        "data job actually runs, composed from this module's oracled " +
        "operators: quality score + langid (tx2) -> quality filter -> " +
        "exact content dedup keeping the min id (dd1) -> deterministic " +
        "train/val/test split (tx5) -> per (lang, split) corpus stats " +
        "with token budgets (tx1). Hash-checked END-TO-END, not just " +
        "stage-by-stage. Map-side until the dedup shuffle; one final " +
        "small aggregate.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val scored = Tables.documents(s, d)
          .withColumn("ws", TextOps.words(col("text")))
          .withColumn("quality",
            Fmt.trunc(TextOps.qualityScore(col("text"), col("ws")), 6))
          .withColumn("lang_pred", TextOps.langId(col("ws")))
          .filter(col("quality") >= 0.7)
        val deduped = scored
          .withColumn("rk", row_number().over(
            Window.partitionBy(Dedup.contentKey(col("text"))).orderBy(col("doc_id"))))
          .filter(col("rk") === 1)
        deduped
          .withColumn("split", Sampling.hashSplit(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)))
          .groupBy("lang", "split")
          .agg(
            count(lit(1)).as("n_docs"),
            Fmt.trunc(avg("quality"), 6).as("avg_quality"),
            sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
            Fmt.trunc(avg(when(col("lang_pred") === col("lang"), 1.0)
              .otherwise(0.0)), 6).as("langid_agree"))
          .orderBy("lang", "split")
      },
      Some {
        s"""WITH scored AS (
           |  SELECT doc_id, text, lang,
           |    $qualitySqlExpr AS quality,
           |    $langPredSqlExpr AS lang_pred
           |  FROM (SELECT doc_id, text, lang, string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |        FROM documents)),
           |deduped AS (
           |  SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
           |    FROM scored WHERE quality >= 0.7)
           |  WHERE rk = 1),
           |assigned AS (
           |  SELECT *, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT *, CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS b
           |        FROM deduped))
           |SELECT lang, split, count(*) AS n_docs,
           |  floor((avg(quality)) * 1e6 + 1e-6) / 1e6 AS avg_quality,
           |  CAST(sum(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT)) AS BIGINT) AS n_tokens,
           |  floor((avg(CASE WHEN lang_pred = lang THEN 1.0 ELSE 0.0 END)) * 1e6 + 1e-6) / 1e6 AS langid_agree
           |FROM assigned GROUP BY lang, split
           |ORDER BY lang, split""".stripMargin
      }),

    Q("llm3_diversity_sampling",
      "Third flagship chain — semantic-DIVERSITY curation composed " +
        "end-to-end (the SemDeDup + cluster-balanced-sampling recipe " +
        "real embedding-curation pipelines run): cluster embeddings " +
        "(dd10's cells) -> drop semantic duplicates within each cell " +
        "-> md5-deterministic per-cell quota sample (tx4's sampler on " +
        "the CELL as the stratum) -> per-cell audit stats, the " +
        "sampled-id checksum hash-checked. Every stage is the shape " +
        "its standalone query ships; one new shuffle total beyond " +
        "them (the quota window).",
      (s, d) => {
        val dups = semanticDupsFrame(s, d)
        val perCell = dups.groupBy("cell").agg(
          count(lit(1)).as("n_vectors"),
          sum(col("is_semantic_dup").cast("long")).as("n_dups"))
        val kept = dups.filter(!col("is_semantic_dup"))
          .select(col("vec_id"), col("cell"))
        val samp = Sampling.stratifiedQuota(kept, "cell", "vec_id", k = 40)
          .groupBy("cell").agg(
            count(lit(1)).as("n_sampled"),
            sum("vec_id").as("sampled_id_sum"))
        // both sides are cell-count-sized aggregates — broadcast the
        // sampled side so the 10-row rejoin never plans a sort-merge
        perCell.join(broadcast(samp), Seq("cell"), "left").orderBy("cell")
      },
      Some(semDedupCoreSql +
        """,flagged AS (
          |  SELECT a.vec_id, a.cell, g.dup_of IS NOT NULL AS is_dup
          |  FROM assign a LEFT JOIN agg g ON a.vec_id = g.id_hi),
          |pc AS (
          |  SELECT cell, count(*) AS n_vectors,
          |         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
          |  FROM flagged GROUP BY cell),
          |ranked AS (
          |  SELECT cell, vec_id,
          |         row_number() OVER (PARTITION BY cell
          |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
          |  FROM flagged WHERE NOT is_dup),
          |samp AS (
          |  SELECT cell, count(*) AS n_sampled,
          |         CAST(sum(vec_id) AS BIGINT) AS sampled_id_sum
          |  FROM ranked WHERE rk <= 40 GROUP BY cell)
          |SELECT pc.cell, pc.n_vectors, pc.n_dups, samp.n_sampled, samp.sampled_id_sum
          |FROM pc LEFT JOIN samp USING (cell) ORDER BY pc.cell""".stripMargin)),

    Q("llm2_training_prep",
      "Second flagship pipeline — the r7 curation operators composed " +
        "END-TO-END and hash-checked as one chain: planted boilerplate " +
        "+ PII -> line-level dedup (tx9) -> PII redaction (tx7) -> " +
        "hashed-bigram LM perplexity filter trained on the curated " +
        "slice of the CLEANED corpus (tx12) -> token-budget mixture by " +
        "language (tx13) -> per-language corpus stats. Every stage's " +
        "scale shape is the one its standalone query ships.",
      (s, d) => {
        val B = 256
        val base = Tables.documents(s, d)
        // plant one deterministic email per doc + the tx9 boilerplate
        val lined = base.select(col("doc_id"),
          concat(
            concat_ws(" ", col("text"),
              concat(lit("reach user"), col("doc_id"), lit("@corpus.example.net"))),
            when(col("doc_id") % 3 === 0,
              lit("\nfollow us on social media for updates")).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              lit("\nall rights reserved worldwide")).otherwise(lit("")))
            .as("text"))
        val cleaned = Dedup.lineDedup(lined, "doc_id", "text", minDocs = 5)
          .filter(col("clean_text").isNotNull)
          .select(col("doc_id"), col("clean_text").as("text"))
          .join(base.select("doc_id", "lang", "source"), Seq("doc_id"))
        val safe = Artifacts.frame(s, d, "llm2_safe")( // feeds LM training, scoring, and the mixture
          cleaned.withColumn("text", TextOps.redactPii(col("text"))))
        val (plp, bo) = trainedLm(s, d, "llm2_lm",
          safe.filter(col("source").isin(CuratedSources: _*)), B)
        val scored = LangModel
          .scoreDocs(safe, "doc_id", "text", plp, bo, B, math.log(1.0 / B))
          .withColumn("ppl",
            Fmt.trunc(exp(-Fmt.t6(col("avg_logp_raw"))), 3))
          .filter(col("ppl") <= 60.0)
          .select("doc_id", "ppl")
        val kept = safe.join(scored, Seq("doc_id"))
        val mixed = Sampling.tokenBudgetMixture(kept, "lang", "doc_id",
          TextOps.tokenCount(col("text")),
          Map("en" -> 4000L, "de" -> 1500L, "es" -> 1500L,
            "fr" -> 1500L, "zh" -> 1500L))
          .filter(col("selected"))
        mixed.groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tokens").as("n_tokens"),
            Fmt.trunc(avg("ppl"), 6).as("avg_ppl"))
          .orderBy("lang")
      },
      Some(llm2OracleSql)),

    Q("llm4_curation_chain",
      "Fourth flagship pipeline (r12 verdict ask #2) — the r9-r12 " +
        "entrants composed END-TO-END, proving the newest operators " +
        "chain: planted boilerplate footer -> exact-substring dedup " +
        "(tx16's operator: every duplicated 8-word span removed " +
        "everywhere) -> Gopher QUALITY rules on the cleaned text " +
        "(tx20's text-level rules; the line-level bullet/ellipsis " +
        "fractions are vacuous on single-line reassembled text and " +
        "are documented out; the word-count floor and stop-word " +
        "minimum are corpus constants in Gopher — here 30 words / " +
        ">=1 stop word, where the paper's web-page 50/2 would " +
        "annihilate this synthetic corpus instead of splitting it) " +
        "-> Gopher REPETITION rules (tx21's " +
        "top-2/3/4-gram char fractions + duplicated 5- and 10-gram " +
        "coverage — the tightest and loosest of the six structurally " +
        "identical coverage orders) -> quality-weighted " +
        "Efraimidis-Spirakis sample, 20 per language (tx19) -> " +
        "512-token sequence packing (tx6). The packed layout AND the " +
        "cleaned text fingerprint are hash-checked end-to-end; every " +
        "stage's SQL fragment is the one its standalone oracle ships. " +
        "Scale shape: each stage keeps its standalone topology " +
        "(keyed shuffles / shuffle_hash joins / one window per " +
        "stratum) — nothing new is priced in beyond composition.",
      (s, d) => {
        val base = Tables.documents(s, d)
        // the planted dup: a 12-word boilerplate footer on every 2nd
        // doc — the exact-substring stage must remove it from EVERY
        // page carrying it (tx16's semantics, llm2's planting move)
        val planted = base.select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" " + Llm4Boiler)))
            .otherwise(col("text")).as("text"))
        // CACHED: the substring-dedup stage output is consumed by THREE
        // downstream arms (the quality metrics and both repetition
        // aggregates join back to it), and uncached each arm re-ran the
        // whole positioned-8-gram pipeline — 3x the chain's dominant
        // cost (probe: 7.5 -> 2.6 s steady). Strings only, no arrays
        // (the verifiedPairs lesson: columnar-encoding per-doc string
        // arrays costs more than recomputing them); at corpus scale the
        // same single-materialization is a staged parquet write between
        // pipeline stages, which is exactly what the chain's stage
        // boundary means. Routed through Artifacts.frame (not a bare
        // .cache()) so the registry — not CacheManager plan
        // canonicalization — guarantees ONE entry across repeated
        // builds, and dead sessions purge it (r13 ADVICE).
        val cleaned = Artifacts.frame(s, d, "llm4_cleaned")(
          Dedup.duplicateSpans(planted, "doc_id", "text", k = 8)
            .filter(col("clean_text").isNotNull)
            .select(col("doc_id"), col("clean_text").as("text"))
            // corpus-sized ⋈ corpus-sized — shuffle_hash, never SMJ
            .join(base.select("doc_id", "lang").hint("shuffle_hash"),
              Seq("doc_id")))
        val qm = gopherQualityCols(cleaned) // shared with llm5 (one defn)
        val keepQ = gopherBaseKeep &&
          col("hash_ratio") <= 0.1 && col("ellipsis_ratio") <= 0.1
        // ONE cleaned-corpus materialization hashed by doc_id (r18,
        // the tx21 move — see partitionedCheckpoint): both repetition
        // arms' gram/token grains run shuffle-free on it instead of
        // re-shuffling derived rows per arm; the narrow (doc_id, text)
        // projection keeps the ws arrays out of the shuffle (the
        // verifiedPairs lesson).
        val pages = partitionedCheckpoint(s, d, "llm4_pages",
          cleaned.select(col("doc_id"), col("text")), "doc_id")
        val joined = qm
          .join(Repetition.topGramCharsMulti(pages, "doc_id",
              TextOps.words(col("text")), Seq(2, 3, 4))
            .hint("shuffle_hash"), Seq("doc_id"), "left")
          .join(Repetition.dupGramCharFracMulti(pages, "doc_id",
              TextOps.words(col("text")), Seq(5, 10))
            .hint("shuffle_hash"), Seq("doc_id"), "left")
        def topFrac(n: Int): org.apache.spark.sql.Column =
          coalesce(col(s"top_${n}gram_chars"), lit(0L)).cast("double") /
            col("sum_wl").cast("double")
        val keepR = topFrac(2) <= 0.20 && topFrac(3) <= 0.18 &&
          topFrac(4) <= 0.16 &&
          coalesce(col("dup5"), lit(0.0)) <= 0.15 &&
          coalesce(col("dup10"), lit(0.0)) <= 0.10
        val kept = joined.filter(keepQ && keepR)
          .withColumn("quality",
            TextOps.qualityScore(col("text"), col("ws")))
          .select("doc_id", "lang", "text", "quality")
        val samp = Sampling.weightedSample(kept, "lang", "doc_id",
          col("quality"), 20)
          .withColumn("n_tokens",
            TextOps.tokenCount(col("text")).cast("long"))
        Packing.packBins(samp, "lang", "doc_id", "n_tokens", 512)
          .select(col("lang"), col("rk"), col("doc_id"),
            Fmt.trunc(col("quality"), 6).as("quality"),
            col("n_tokens"), col("start_tok"), col("bin_first"),
            col("bin_last"), col("spans_boundary"),
            md5(col("text")).as("text_fp"))
          .orderBy("lang", "rk")
      },
      Some(llm4OracleSql)),

    Q("llm5_crawl_chain",
      "Fifth flagship chain (r13 verdict stretch) — the multimodal-to-" +
        "text boundary composed END-TO-END for the first time: " +
        "HTML/RTF corpora are how real crawl data arrives, so the " +
        "chain starts at raw payloads. HTML pages built around every " +
        "document (with a planted boilerplate footer on every 2nd doc " +
        "and a blocklist phrase on every 13th INSIDE the paragraph; " +
        "every 37th payload is unrecognizable bytes and must dead-" +
        "letter, not die) -> REAL JVM extraction (mm8's operator: " +
        "script/style dropped, tags stripped, entities unescaped) -> " +
        "exact-substring dedup over the EXTRACTED text (tx16: the " +
        "boilerplate's interior 8-grams repeat corpus-wide and are " +
        "stripped everywhere) -> Gopher text-level quality rules + " +
        "tx17's blocklist on the cleaned text -> token-budget mixture " +
        "by language (tx13). Output: the selected documents with " +
        "their audit trail and the cleaned-text fingerprint " +
        "hash-checked end-to-end. The oracle restates each stage with " +
        "its standalone fragment (mm8's extraction analytically — the " +
        "codec leg is proven by mm8's own oracle). Scale shape: the " +
        "codec is the only per-byte stage (mapBatched seam); every " +
        "later stage keeps its standalone topology.",
      (s, d) => {
        val base = Tables.documents(s, d)
        val para = concat(col("text"),
          when(col("doc_id") % 2 === 0, lit(" " + Llm4Boiler))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" lorem ipsum dolor sit amet"))
            .otherwise(lit("")))
        val html = concat(
          lit("<html><head><title>alpha &amp; beta</title>" +
            "<style>p { color: red; }</style></head><body><h1>doc "),
          col("doc_id").cast("string"),
          lit("</h1><p>"), para,
          lit("</p><script>if (x &lt; 3) { alert(\"hi\"); }" +
            "</script></body></html>"))
        val payload = when(col("doc_id") % 37 === 0,
            lit(Array[Byte](0, 1, 2, -1, -2))) // no sniffable prefix
          .otherwise(html.cast("binary"))
        // CACHED: duplicateSpans reads its input through ~3 plan arms
        // (tokens + both gram arms), and the extraction codec is the
        // chain's only per-byte stage — it must run once, not thrice
        // (r14 self-review; the incrementalNearDups caller contract)
        val extracted = Artifacts.frame(s, d, "llm5_extracted")(
          Multimodal.extractTextBatched(
              base.select(col("doc_id"), payload.as("payload")),
              "doc_id", "payload")
            .toDF()
            .filter(col("format") === "html") // dead-letters drop out
            .select(col("doc_id"), col("text")))
        val cleaned = Dedup.duplicateSpans(extracted, "doc_id", "text", k = 8)
          .filter(col("clean_text").isNotNull)
          .select(col("doc_id"), col("clean_text").as("text"))
          // corpus-sized ⋈ corpus-sized — shuffle_hash, never SMJ
          .join(base.select("doc_id", "lang").hint("shuffle_hash"),
            Seq("doc_id"))
        val qm = gopherQualityCols(cleaned) // shared with llm4 (one defn)
        val kept = qm.filter(
            gopherBaseKeep && !lower(col("text")).contains("lorem ipsum"))
          .select("doc_id", "lang", "text")
        Sampling.tokenBudgetMixture(kept, "lang", "doc_id",
            TextOps.tokenCount(col("text")),
            Map("en" -> 3000L, "de" -> 1000L, "es" -> 1000L,
              "fr" -> 1000L, "zh" -> 1000L))
          .filter(col("selected"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("cum_before"), md5(col("text")).as("text_fp"))
          .orderBy("doc_id")
      },
      Some(llm5OracleSql)),

    Q("llm6_cross_modal_dedup",
      "Sixth flagship chain (r14 verdict stretch) — CROSS-MODAL dedup, " +
        "the shape real crawl curation runs now that every modality " +
        "has a pair operator: documents carry text AND an image " +
        "payload; the duplicate relation is the UNION of the text " +
        "pair set (docs sharing a duplicated 8-word span — " +
        "Dedup.sharedSpanPairs, the pair-producing face of tx16's " +
        "ExactSubstr machinery) and the image pair set (mm9's real " +
        "PNG-roundtrip dHash through the shared BandedHamming join); " +
        "the canonical-doc vote is dd7's connected components over " +
        "the union, so a text-dup of A and an image-dup of A collapse " +
        "into ONE group with one canonical even though they never " +
        "matched each other directly. Planted: every 50th doc has a " +
        "text replica (id + 1,000,000); a fixed 50-doc multimodal " +
        "subset (ids 0,10..490) where every id % 30 == 20 carries a " +
        "one-pixel perturbation of id-10's image — so id % 150 == 50 " +
        "(ids 50, 200, 350: e.g. {40, 50, 1000050}) forges the " +
        "cross-modal component the chain exists to find. Oracle: the gram self-join, mm9's " +
        "full pixel->dHash->band restatement, and dd7's recursive-CTE " +
        "closure over the union — group id, size, canonical flag all " +
        "hash-checked.",
      (s, d) => {
        val mixed = corpus(s, d)
        val textPairs = Dedup.sharedSpanPairs(mixed, "doc_id", "text", k = 8)
        // fixed-size multimodal subset (the mm9 discipline: the codec
        // fixture is bounded at any SF); hashes cached — selfPairs
        // reads them through both join arms
        val imgIds: Seq[(Long, Long, Int)] = (0L until 500L by 10).map(i =>
          if (i % 30 == 20) (i, i - 10, 1) else (i, i, 0))
        val ih = Artifacts.frame(s, d, "llm6_img_hashes")(imageHashes(s, imgIds))
        val imagePairs = graft.ops.BandedHamming
          .selfPairs(ih, "doc_id", "h_lo", "h_hi", 6)
          .select("doc_a", "doc_b")
        // the union edge set is read through two arms by the component
        // loop (u->v and v->u) — cache it, not the heavy upstreams
        val edges = Artifacts.frame(s, d, "llm6_edges")(
          textPairs.unionByName(imagePairs)
            .dropDuplicates("doc_a", "doc_b"))
        val groups = Dedup.connectedComponents(edges, "doc_a", "doc_b")
        val wg = org.apache.spark.sql.expressions.Window.partitionBy("group_id")
        groups.select(
            col("doc").as("doc_id"), col("group_id"),
            count(lit(1)).over(wg).as("group_size"),
            (col("doc") === col("group_id")).as("is_canonical"))
          .orderBy("doc_id")
      },
      Some(llm6OracleSql))
  )
}
