package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.{Artifacts, Tables}
import graft.llm.{Bpe, Dedup, Importance, LangModel, Multimodal, Packing, Repetition, Sampling, Search, Similarity, TextOps}
import graft.ops.Sketches

/** LLM training-data pipeline operators over the `documents` and
  * `embeddings` tables: dedup family, similarity search, text
  * analysis, multimodal plumbing. First-class components per the
  * round-1 brief/verdict.
  *
  * Oracle policy: every query here is DuckDB-checked. Exact dedup,
  * minhash signatures + LSH candidate pairs + Jaccard ride on portable
  * md5/string-min/list ops; token stats, quality, langid, fingerprint
  * on string ops; the cosine family on bit-identical sequential double
  * folds. SimHash's word hash is an md5-derived 64-bit long for
  * exactly this portability; ss2's centroids are truncated so the only
  * cross-engine float-order hazard vanishes; ss3's seeded planes are
  * interpolated into the SQL as literals ([[ss3OracleSql]]).
  */
object LlmQueries extends Q.Registry {

  /** Corpus with planted near-duplicates: every 50th document is
    * replayed with its last word dropped and id + 1,000,000 — gives
    * the dedup operators deterministic positives to find. Mirrored in
    * SQL as `corpus`. */
  /** The planted-near-dup mutation every dedup fixture shares: drop the
    * document's last word. ONE definition (plus [[TruncLastWordSql]]) —
    * three Spark sites and their oracle literals previously carried
    * verbatim copies that could silently desynchronize (r8 review). */
  private def truncateLastWord(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(text, "[ \\t\\n\\x0B\\f\\r]+[^ \\t\\n\\x0B\\f\\r]+\\z", "")
  private val TruncLastWordSql: String =
    """regexp_replace(text, '[ \t\n\x0B\f\r]+[^ \t\n\x0B\f\r]+\z', '')"""

  private def corpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mutated = docs.filter(col("doc_id") % 50 === 0)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"),
        truncateLastWord(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars").unionAll(mutated)
  }

  private val corpusSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, regexp_replace(text, '[ \t\n\x0B\f\r]+[^ \t\n\x0B\f\r]+\z', ''),
      |         lang, source, n_chars
      |  FROM documents WHERE doc_id % 50 = 0),
      |""".stripMargin

  /** Shared shingle-set + minhash SQL mirror (k=9 sigs, 3 bands x 3). */

  // fail-fast if any oracle copy of the mutation regex drifts from the
  // canonical definition (the SQL lives inside stripMargin literals
  // where splicing would obscure the oracle text)
  require(corpusSql.contains(TruncLastWordSql),
    "corpusSql lost the canonical truncate-last-word regex")

  /** st7's DuckDB oracle: the two micro-batch legs of the incremental
    * exact-substring dedup replayed batch by batch — batch 1's dup set
    * counts (batch-1 self + corpus table), batch 2's counts (batch-2
    * self + corpus + batch 1, i.e. the ADVANCED table). Shares tx16's
    * tokenize/gram/coverage machinery, instantiated per source. */
  private lazy val substrIncrementalSql: String = {
    val split = raw"string_split_regex(lower(text), '[ \t\n\x0B\f\r]+')"
    def ctes(src: String, p: String): String =
      raw"""${p}t AS (SELECT doc_id, $split AS ws FROM $src),
           |${p}tok AS (SELECT doc_id, CAST(u.i AS INT) AS tpos, ws[CAST(u.i AS INT)] AS token
           |        FROM ${p}t, unnest(range(1, len(ws) + 1)) AS u(i)),
           |${p}g AS (SELECT doc_id, CAST(u.i AS INT) AS gpos,
           |             ws[CAST(u.i AS INT)] || ' ' || ws[CAST(u.i AS INT)+1] || ' ' ||
           |             ws[CAST(u.i AS INT)+2] || ' ' || ws[CAST(u.i AS INT)+3] || ' ' ||
           |             ws[CAST(u.i AS INT)+4] || ' ' || ws[CAST(u.i AS INT)+5] || ' ' ||
           |             ws[CAST(u.i AS INT)+6] || ' ' || ws[CAST(u.i AS INT)+7] AS gram
           |      FROM ${p}t, unnest(range(1, len(ws) - 6)) AS u(i)),
           |""".stripMargin
    def leg(p: String, dup: String, out: String): String =
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
    raw"""WITH dws AS (SELECT doc_id, $split AS ws FROM documents),
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
      ctes("documents", "c") + ctes("nb1", "b1") + ctes("nb2", "b2") +
      raw"""ccnt AS (SELECT gram, count(*) AS n FROM cg GROUP BY gram),
           |b1cnt AS (SELECT gram, count(*) AS n FROM b1g GROUP BY gram),
           |b2cnt AS (SELECT gram, count(*) AS n FROM b2g GROUP BY gram),
           |dup1 AS (SELECT t.gram FROM b1cnt t LEFT JOIN ccnt c USING (gram)
           |         WHERE t.n + coalesce(c.n, 0) >= 2),
           |dup2 AS (SELECT t.gram FROM b2cnt t LEFT JOIN ccnt c USING (gram)
           |         LEFT JOIN b1cnt o USING (gram)
           |         WHERE t.n + coalesce(c.n, 0) + coalesce(o.n, 0) >= 2),
           |""".stripMargin +
      leg("b1", "dup1", "out1") + leg("b2", "dup2", "out2") +
      raw"""fin AS (SELECT * FROM out1 UNION ALL SELECT * FROM out2)
           |SELECT doc_id, n_tokens, n_removed_tokens, clean_text
           |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** llm8's oracle: the full curation chain replayed batch by batch —
    * [[substrIncrementalSql]]'s gram/coverage machinery over the SIX
    * planted arms, tx20's Gopher base terms over the cleaned text,
    * and st16's quantized+float cosine gates over survivor vectors vs
    * the index each batch saw (base for batch 1; base ∪ batch-1
    * SURVIVORS for batch 2 — the oracle derives the survivors from
    * its own dedup+quality predicates, so the grown-index evidence is
    * checked as a function of every upstream decision, exactly like
    * the engine). */
  private lazy val curationOracleSql: String = {
    val split = raw"string_split_regex(lower(text), '[ \t\n\x0B\f\r]+')"
    val stopHits = TextOps.GopherStops
      .map(w => s"CAST(list_contains(ws, '$w') AS INT)").mkString(" + ")
    def ctes(src: String, p: String): String =
      raw"""${p}t AS (SELECT doc_id, $split AS ws FROM $src),
           |${p}tok AS (SELECT doc_id, CAST(u.i AS INT) AS tpos, ws[CAST(u.i AS INT)] AS token
           |        FROM ${p}t, unnest(range(1, len(ws) + 1)) AS u(i)),
           |${p}g AS (SELECT doc_id, CAST(u.i AS INT) AS gpos,
           |             ws[CAST(u.i AS INT)] || ' ' || ws[CAST(u.i AS INT)+1] || ' ' ||
           |             ws[CAST(u.i AS INT)+2] || ' ' || ws[CAST(u.i AS INT)+3] || ' ' ||
           |             ws[CAST(u.i AS INT)+4] || ' ' || ws[CAST(u.i AS INT)+5] || ' ' ||
           |             ws[CAST(u.i AS INT)+6] || ' ' || ws[CAST(u.i AS INT)+7] AS gram
           |      FROM ${p}t, unnest(range(1, len(ws) - 6)) AS u(i)),
           |""".stripMargin
    def leg(p: String, dup: String, out: String): String =
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
    // tx20's Gopher BASE terms over the cleaned text; '' (a fully-
    // deduplicated doc) yields n_words=1, sum_wl=0 → mean 0 → fail
    def qual(src: String, q: String): String =
      raw"""$q AS (
           |  SELECT doc_id, len(ws) AS n_words,
           |    list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b) AS sum_wl,
           |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
           |      / len(ws) AS alpha_frac,
           |    CAST($stopHits AS INT) AS stop_hits
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
    // st16's quantization/gate fragments (embPairsOracleSql's shapes)
    def qzOver(src: String, idCol: String): String =
      s"""SELECT $idCol, embedding,
         |    list_transform(embedding, x ->
         |      CASE WHEN s > 0 THEN floor(CAST(x AS DOUBLE) / s + 0.5)
         |           ELSE 0.0 END) AS qv
         |  FROM (SELECT $idCol, embedding,
         |          list_max(list_transform(embedding,
         |            x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
         |        FROM $src)""".stripMargin
    def qdot(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), i -> $a.qv[i] * $b.qv[i]))"
    def fdot(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), " +
        s"i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))"
    def gates(n: String, m: String): String = {
      val qcos = s"${qdot(n, m)} / (sqrt(${qdot(n, n)}) * sqrt(${qdot(m, m)}))"
      val fcos = s"${fdot(n, m)} / (sqrt(${fdot(n, n)}) * sqrt(${fdot(m, m)}))"
      // isfinite mirrors posNorm's NaN leg (r16 self-review): NaN > 0
      // is TRUE under DuckDB's NaN-high comparisons, so a bare > 0
      // would KEEP a NaN-norm row the Spark side drops
      s"isfinite(${fdot(n, n)}) AND ${fdot(n, n)} > 0 " +
        s"AND isfinite(${fdot(m, m)}) AND ${fdot(m, m)} > 0 " +
        s"AND isfinite(${qdot(n, n)}) AND ${qdot(n, n)} > 0 " +
        s"AND isfinite(${qdot(m, m)}) AND ${qdot(m, m)} > 0 " +
        s"AND $qcos >= $EmbTauQ AND $fcos >= $EmbTau"
    }
    def matchCtes(qsv: String, qidx: String, pe: String, pn: String): String =
      raw"""$pe AS (
           |  SELECT n.doc_id, count(*) AS n_match_existing
           |  FROM $qsv n JOIN $qidx m ON ${gates("n", "m")}
           |  GROUP BY n.doc_id),
           |$pn AS (
           |  SELECT u.doc_id, count(*) AS n_match_new FROM (
           |    SELECT unnest([a.doc_id, b.doc_id]) AS doc_id
           |    FROM $qsv a JOIN $qsv b ON a.doc_id < b.doc_id
           |      AND ${gates("a", "b")}) u
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
    raw"""WITH dws AS (SELECT doc_id, $split AS ws FROM documents),
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
      ctes("documents", "c") + ctes("nb1", "b1") + ctes("nb2", "b2") +
      raw"""ccnt AS (SELECT gram, count(*) AS n FROM cg GROUP BY gram),
           |b1cnt AS (SELECT gram, count(*) AS n FROM b1g GROUP BY gram),
           |b2cnt AS (SELECT gram, count(*) AS n FROM b2g GROUP BY gram),
           |dup1 AS (SELECT t.gram FROM b1cnt t LEFT JOIN ccnt c USING (gram)
           |         WHERE t.n + coalesce(c.n, 0) >= 2),
           |dup2 AS (SELECT t.gram FROM b2cnt t LEFT JOIN ccnt c USING (gram)
           |         LEFT JOIN b1cnt o USING (gram)
           |         WHERE t.n + coalesce(c.n, 0) + coalesce(o.n, 0) >= 2),
           |""".stripMargin +
      leg("b1", "dup1", "out1") + leg("b2", "dup2", "out2") +
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
    val split = raw"string_split_regex(lower(text), '[ \t\n\x0B\f\r]+')"
    def gramN(n: Int): String = (0 until n).map {
      case 0 => "ws[CAST(u.i AS INT)]"
      case j => s"ws[CAST(u.i AS INT)+$j]"
    }.mkString(" || ' ' || ")
    val stopHits = TextOps.GopherStops
      .map(w => s"CAST(list_contains(ws, '$w') AS INT)").mkString(" + ")
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
         |ft AS (SELECT doc_id, $split AS ws FROM f4),
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
         |mws AS (SELECT doc_id, lang, text, $split AS ws FROM c2),
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
         |    CAST($stopHits AS INT) AS stop_hits
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
    val split = raw"string_split_regex(lower(text), '[ \t\n\x0B\f\r]+')"
    def gramN(n: Int): String = (0 until n).map {
      case 0 => "ws[CAST(u.i AS INT)]"
      case j => s"ws[CAST(u.i AS INT)+$j]"
    }.mkString(" || ' ' || ")
    val stopHits = TextOps.GopherStops
      .map(w => s"CAST(list_contains(ws, '$w') AS INT)").mkString(" + ")
    raw"""WITH xt AS (
         |  SELECT doc_id, lang,
         |    'alpha & beta doc ' || CAST(doc_id AS VARCHAR) || ' ' || text ||
         |    (CASE WHEN doc_id % 2 = 0 THEN ' $Llm4Boiler' ELSE '' END) ||
         |    (CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum dolor sit amet'
         |          ELSE '' END) AS text
         |  FROM documents WHERE doc_id % 37 <> 0),
         |ft AS (SELECT doc_id, $split AS ws FROM xt),
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
         |mws AS (SELECT doc_id, lang, text, $split AS ws FROM c2),
         |qm AS (SELECT doc_id,
         |    len(ws) AS n_words,
         |    list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b)
         |      AS sum_wl,
         |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
         |      / len(ws) AS alpha_frac,
         |    CAST($stopHits AS INT) AS stop_hits
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

  /** tx18's DuckDB oracle: the full C4 §2.2 replay — line rules +
    * citation strip + page keep + keep-first three-sentence-span
    * dedup (row_number over the span md5, coverage window). */
  private lazy val c4FullSql: String =
    """WITH pg AS (
      |  SELECT doc_id,
      |         (replace(text, ' table ', '. table ') || '.') || chr(10) ||
      |         'click here for more' || chr(10) ||
      |         'too short.' || chr(10) ||
      |         (CASE WHEN doc_id % 3 = 0 THEN 'please enable javascript to continue.'
      |               ELSE 'the service desk stays open daily.' END) || chr(10) ||
      |         (CASE WHEN doc_id % 4 = 0 THEN 'we use cookies and a privacy policy applies.'
      |               ELSE 'fresh updates arrive every single morning.' END) || chr(10) ||
      |         'as shown in [1] the results hold [citation needed].' || chr(10) ||
      |         (CASE WHEN doc_id % 11 = 0 THEN 'alpha one common block. beta two common block. gamma three common block.'
      |               ELSE 'every page closes with its own remark.' END) || chr(10) ||
      |         (CASE WHEN doc_id % 7 = 0 THEN 'function f() { return 1; }'
      |               ELSE 'plain closing text without any code.' END) || chr(10) ||
      |         (CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit amet here today.'
      |               ELSE 'contact us today for more details.' END) AS page
      |  FROM documents),
      |kl AS (
      |  SELECT doc_id, page,
      |         regexp_replace(regexp_replace(
      |           array_to_string(list_filter(string_split(page, chr(10)), l ->
      |             right(l, 1) IN ('.', '!', '?', '"')
      |             AND len(string_split_regex(l, '[ \t\n\x0B\f\r]+')) >= 5
      |             AND NOT contains(lower(l), 'javascript')
      |             AND NOT contains(lower(l), 'terms of use')
      |             AND NOT contains(lower(l), 'privacy policy')
      |             AND NOT contains(lower(l), 'cookie policy')
      |             AND NOT contains(lower(l), 'uses cookies')
      |             AND NOT contains(lower(l), 'use of cookies')), chr(10)),
      |           '\[[0-9]+\]', '', 'g'), '\[citation needed\]', '', 'g') AS kept
      |  FROM pg),
      |keepf AS (
      |  SELECT doc_id, kept,
      |         (NOT contains(page, '{'))
      |         AND len(list_filter(list_transform(regexp_extract_all(kept, '[^.!?]+[.!?]'),
      |               s -> trim(s, ' ' || chr(10))), s -> len(s) > 0)) >= 3
      |         AND NOT contains(lower(kept), 'lorem ipsum') AS keep
      |  FROM kl),
      |sarr AS (
      |  SELECT doc_id, list_filter(list_transform(regexp_extract_all(kept, '[^.!?]+[.!?]'),
      |           s -> trim(s, ' ' || chr(10))), s -> len(s) > 0) AS sa
      |  FROM keepf WHERE keep),
      |sent AS (SELECT doc_id, CAST(u.i AS INT) AS spos, sa[CAST(u.i AS INT)] AS sent
      |         FROM sarr, unnest(range(1, len(sa) + 1)) AS u(i)),
      |sp AS (SELECT doc_id, CAST(u.i AS INT) AS gpos,
      |              md5(sa[CAST(u.i AS INT)] || ' ' || sa[CAST(u.i AS INT)+1] || ' ' ||
      |                  sa[CAST(u.i AS INT)+2]) AS gram
      |       FROM sarr, unnest(range(1, len(sa) - 1)) AS u(i)),
      |mk AS (SELECT doc_id, gpos FROM (
      |         SELECT doc_id, gpos,
      |                row_number() OVER (PARTITION BY gram ORDER BY doc_id, gpos) AS rn
      |         FROM sp) WHERE rn >= 2),
      |tf AS (SELECT s.doc_id, s.spos, s.sent, m.gpos AS marker
      |       FROM sent s LEFT JOIN mk m ON s.doc_id = m.doc_id AND s.spos = m.gpos),
      |cov AS (SELECT doc_id, spos, sent,
      |               max(marker) OVER (PARTITION BY doc_id ORDER BY spos
      |                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) IS NOT NULL AS covered
      |        FROM tf),
      |dd AS (SELECT doc_id, count(*) AS n_sentences,
      |              CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_sentences,
      |              CASE WHEN count(*) = sum(CASE WHEN covered THEN 1 ELSE 0 END)
      |                   THEN NULL
      |                   ELSE string_agg(CASE WHEN NOT covered THEN sent END, ' ' ORDER BY spos)
      |              END AS clean_text
      |       FROM cov GROUP BY doc_id)
      |SELECT k.doc_id, k.keep, d.n_sentences, d.n_removed_sentences, d.clean_text
      |FROM keepf k LEFT JOIN dd d ON k.doc_id = d.doc_id
      |ORDER BY k.doc_id""".stripMargin

  private val MinhashK = 9
  private val Bands = 3
  private val RowsPerBand = 3
  private def sigSqlExprs: String =
    (0 until MinhashK).map(j =>
      s"list_min(list_transform(sh, s -> md5('$j:' || s))) AS sig$j").mkString(", ")
  private def bandSqlExprs: String =
    (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"sig${b * RowsPerBand + r}")
      s"md5(${parts.mkString(" || '|' || ")}) AS band$b"
    }.mkString(", ")

  private val shinglesSql: String =
    """shingled AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |           THEN list_transform(range(1, len(ws) - 1),
      |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |           ELSE [] END AS sh
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
      |        FROM corpus)),
      |""".stripMargin

  /** The dd3 pipeline up to Jaccard-verified pairs, shared by dd3
    * (emits the pairs) and dd7 (groups them): shingles → MinHash sig →
    * banded LSH candidates (shuffle on band key, never all-pairs) →
    * exact shingle-Jaccard >= 0.6. */
  private def verifiedPairs(s: SparkSession, d: String): DataFrame = {
    val shingled = corpus(s, d)
      .withColumn("ws", TextOps.words(col("text")))
      .withColumn("sh", TextOps.wordShingles(col("ws"), 3))
    // cache ONLY the banded frame (doc_id + 3 hex band keys — a few
    // dozen bytes/doc): it feeds both sides of the band self-join.
    // The earlier shape cached sh_set alongside it, and encoding the
    // per-doc string-array shingle sets into the columnar cache cost
    // 7-11 s at sf0.1 — more than the whole pipeline. Recomputing the
    // shingle sets per set-join arm is cheap (words+concat, no md5:
    // the signature kernel runs once, on the banded side only) and is
    // the shape that survives 100 TB, where pinning the corpus'
    // shingle sets in executor memory is not an option.
    val banded = shingled
      .withColumn("sig", Dedup.minhashSig(col("sh"), MinhashK))
      .withColumn("bands", Dedup.bandKeys(col("sig"), Bands, RowsPerBand))
      .select("doc_id", "bands")
      .cache()
    val pairs = Dedup.lshCandidatePairs(banded, "doc_id", "bands")
    val sets = shingled.select(col("doc_id"), array_distinct(col("sh")).as("sh_set"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b")), Seq("doc_b"))
      .withColumn("jaccard", Fmt.trunc(Dedup.jaccard(col("set_a"), col("set_b")), 6))
      .filter(col("jaccard") >= 0.6)
  }

  /** The CACHED verified-pairs frame, one per (session, dir) in
    * [[Artifacts]]: dd3 emits these pairs, dd7 and dd8 group them —
    * three queries, one pipeline. Production computes the verify ONCE
    * and feeds every consumer (the r8 llm3/dd10 shared-materialization
    * precedent; the reference's notebook computes df_analysis once,
    * cell 0), so the session-lifetime cache is the honest steady state,
    * same policy as [[graft.Tables.load]]. The pairs frame is
    * dup-structure-sized (3 columns, one row per verified near-dup
    * pair), orders of magnitude under the corpus — cacheable at any
    * scale the dedup result itself is usable at. The bench_scale
    * dd_groups/dd_star legs deliberately RE-RUN the pipeline
    * (documented there) so the end-to-end scale cost stays measured. */
  private[graft] def verifiedPairsShared(s: SparkSession, d: String): DataFrame =
    Artifacts.frame(s, d, "verified_pairs")(verifiedPairs(s, d))

  /** DuckDB mirror of [[verifiedPairs]] as a WITH prefix ending in the
    * `verified(doc_a, doc_b, jaccard)` CTE. */
  private def verifiedPairsSql: String = corpusSql + shinglesSql +
    s"""sigs AS (
       |  SELECT doc_id, list_distinct(sh) AS sh_set, $sigSqlExprs
       |  FROM shingled),
       |banded AS (
       |  SELECT doc_id, sh_set, $bandSqlExprs FROM sigs),
       |exploded AS (
       |  SELECT doc_id, sh_set, unnest([${(0 until Bands).map(b => s"band$b").mkString(", ")}]) AS band_key
       |  FROM banded),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.sh_set AS set_a, b.sh_set AS set_b
       |  FROM exploded a JOIN exploded b USING (band_key)
       |  WHERE a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |         floor((CAST(len(list_distinct(list_intersect(set_a, set_b))) AS DOUBLE) /
       |                len(list_distinct(list_concat(set_a, set_b)))) * 1e6 + 1e-6) / 1e6 AS jaccard
       |  FROM pairs
       |  WHERE floor((CAST(len(list_distinct(list_intersect(set_a, set_b))) AS DOUBLE) /
       |               len(list_distinct(list_concat(set_a, set_b)))) * 1e6 + 1e-6) / 1e6 >= 0.6)
       |""".stripMargin

  /** Shared dd7/dd8 shape: run a connected-components variant over the
    * dd3-verified pair graph, then group sizes + min-id canonical flag.
    * The pairs frame is cached: edges reads it through two plan arms
    * (u→v and v→u) and the LSH pipeline shouldn't run twice. Both
    * component algorithms EAGERLY materialize (localCheckpoint per
    * round), so the cache has served its purpose the moment `cc`
    * returns and is unpersisted here — the returned frame pins exactly
    * one small RDD (the label table; `Dedup.releaseCheckpoint` frees it
    * for long-running sessions; one-shot Verify/Bench JVMs just exit). */
  private def dupGroups(s: SparkSession, d: String,
                        cc: DataFrame => DataFrame): DataFrame = {
    val pairs = verifiedPairsShared(s, d).select("doc_a", "doc_b")
    val groups = cc(pairs)
    // group_size as a count over a group_id window — same single shuffle
    // the groupBy needed, with no second join (whose plan degraded to a
    // sort-merge join under conservative size estimates); matches the
    // oracle's count(*) OVER (PARTITION BY group_id) shape exactly
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("group_id")
    groups
      .select(
        col("doc"), col("group_id"),
        count(lit(1)).over(wg).as("group_size"),
        (col("doc") === col("group_id")).as("is_canonical"))
      .orderBy("doc")
  }

  /** The transitive closure restated as a DuckDB recursive CTE — one
    * oracle for BOTH component algorithms (dd7 hash-min, dd8
    * large/small-star): identical contract, identical hashes. */
  private def dupGroupsOracleSql: String =
    verifiedPairsSql.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM verified
        |  UNION
        |  SELECT doc_b, doc_a FROM verified),
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

  /** st18's oracle: [[dupGroupsOracleSql]]'s transitive closure over
    * the UNION of the base verified pairs and BOTH planted arrival
    * batches ([[pairBatch1]]/[[pairBatch2]] restated by the same id
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

  /** tx2's quality/langid formulas as SQL expressions over a `text` +
    * `ws` (lowercased word list) scope — shared VERBATIM by the tx2
    * oracle and llm1's composed pipeline oracle, so the three copies of
    * these formulas (TextOps, tx2, llm1) can never drift apart in SQL. */
  private def stopHitsSql(stops: Seq[String]): String =
    s"len(list_filter(ws, w -> list_contains([${stops.map(w => s"'$w'").mkString(",")}], w)))"
  private def qualitySqlExprRaw: String = {
    val en = stopHitsSql(TextOps.StopEn)
    s"""(((CASE WHEN len(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.3 END) +
       |          (CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / len(text) < 0.2 THEN 1.0 ELSE 0.4 END) +
       |          (CASE WHEN CAST($en AS DOUBLE) / len(ws) > 0.02 THEN 1.0 ELSE 0.5 END)) / 3.0)""".stripMargin
  }
  private def qualitySqlExpr: String =
    s"floor(($qualitySqlExprRaw) * 1e6 + 1e-6) / 1e6"
  private def langPredSqlExpr: String = {
    // script hits mirror TextOps.scriptHits: same literal character-
    // range pattern text, evaluated by RE2 over the same word array
    def script(re: String): String =
      s"len(list_filter(ws, w -> regexp_matches(w, '$re')))"
    val ru = script(TextOps.CyrillicRe); val ar = script(TextOps.ArabicRe)
    val hi = script(TextOps.DevanagariRe)
    val en = stopHitsSql(TextOps.StopEn); val es = stopHitsSql(TextOps.StopEs)
    val de = stopHitsSql(TextOps.StopDe); val fr = stopHitsSql(TextOps.StopFr)
    val zh = stopHitsSql(TextOps.StopZh)
    s"""CASE WHEN $ru > 0 AND $ru >= $ar AND $ru >= $hi THEN 'ru'
       |       WHEN $ar > 0 AND $ar >= $hi THEN 'ar'
       |       WHEN $hi > 0 THEN 'hi'
       |       WHEN $en >= $es AND $en >= $de AND $en >= $fr AND $en >= $zh THEN 'en'
       |       WHEN $es >= $de AND $es >= $fr AND $es >= $zh THEN 'es'
       |       WHEN $de >= $fr AND $de >= $zh THEN 'de'
       |       WHEN $fr >= $zh THEN 'fr'
       |       ELSE 'zh' END""".stripMargin
  }

  /** ss3's oracle: the seeded gaussian planes are plain constants, so
    * the whole bucket geometry is SQL-expressible — interpolate the
    * SAME `hyperplaneTables(64, 3, 8, 42)` doubles (Double.toString
    * round-trips exactly; DuckDB parses decimal/E-notation literals to
    * the identical nearest double) as a 24-row VALUES table and mirror
    * the sign-bit packing, union-of-tables probe, and exact-cosine
    * re-rank. The bucket NULL contract (any null dot → null bucket →
    * row dropped by the equi-join) is kept via the FILTER guard, since
    * SQL `sum` would otherwise skip nulls. */
  private def ss3OracleSql: String = {
    val planes = Similarity.hyperplaneTables(dim = 64, tables = 3, bits = 8, seed = 42L)
    val planeRows = planes.zipWithIndex.flatMap { case (ps, t) =>
      ps.zipWithIndex.map { case (p, b) =>
        p.mkString(s"($t, $b, CAST([", ", ", "] AS DOUBLE[]))")
      }
    }.mkString(",\n  ")
    s"""WITH planes(t, bit, plane) AS (VALUES
       |  $planeRows),
       |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       |      WHERE vec_id % 100 = 0),
       |cbd AS (
       |  SELECT e.vec_id, p.t, p.bit,
       |         list_sum(list_transform(range(1, 65),
       |           j -> CAST(e.embedding[j] AS DOUBLE) * p.plane[j])) AS d
       |  FROM embeddings e CROSS JOIN planes p),
       |cb AS (
       |  SELECT vec_id, t,
       |         CASE WHEN count(*) FILTER (WHERE d IS NULL) = 0
       |              THEN sum(CASE WHEN d >= 0 THEN 1 << bit ELSE 0 END) END AS b
       |  FROM cbd GROUP BY vec_id, t),
       |qbd AS (
       |  SELECT q.q_id, p.t, p.bit,
       |         list_sum(list_transform(range(1, 65),
       |           j -> CAST(q.q_vec[j] AS DOUBLE) * p.plane[j])) AS d
       |  FROM q CROSS JOIN planes p),
       |qb AS (
       |  SELECT q_id, t,
       |         CASE WHEN count(*) FILTER (WHERE d IS NULL) = 0
       |              THEN sum(CASE WHEN d >= 0 THEN 1 << bit ELSE 0 END) END AS b
       |  FROM qbd GROUP BY q_id, t),
       |cand AS (
       |  SELECT DISTINCT qb.q_id, cb.vec_id
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.b = qb.b
       |  WHERE cb.vec_id <> qb.q_id),
       |scored AS (
       |  SELECT c.q_id, c.vec_id,
       |    list_sum(list_transform(range(1, 65),
       |      j -> CAST(q.q_vec[j] AS DOUBLE) * CAST(e.embedding[j] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(range(1, 65),
       |      j -> CAST(q.q_vec[j] AS DOUBLE) * CAST(q.q_vec[j] AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(range(1, 65),
       |      j -> CAST(e.embedding[j] AS DOUBLE) * CAST(e.embedding[j] AS DOUBLE))))) AS cos_sim
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN q ON q.q_id = c.q_id)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q_id AS query_id, vec_id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  /** dd11's oracle building block: shingles → MinHash sig (as a LIST)
    * → exploded band keys for one side, as `<alias>_b`. Mirrors
    * [[graft.llm.Dedup.signDocs]] over an arbitrary source CTE. */
  private def signSqlFor(src: String, alias: String): String =
    s"""${alias}_sh AS (
       |  SELECT doc_id, CASE WHEN len(ws) >= 3
       |           THEN list_transform(range(1, len(ws) - 1),
       |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |           ELSE [] END AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
       |        FROM $src)),
       |${alias}_sig AS (
       |  SELECT doc_id, $sigSqlExprs FROM ${alias}_sh),
       |${alias}_b AS (
       |  SELECT doc_id,
       |         [${(0 until MinhashK).map(j => s"sig$j").mkString(", ")}] AS sig,
       |         unnest([${(0 until Bands).map(b => s"band$b").mkString(", ")}]) AS band_key
       |  FROM (SELECT doc_id, ${(0 until MinhashK).map(j => s"sig$j").mkString(", ")},
       |               $bandSqlExprs
       |        FROM ${alias}_sig)),
       |""".stripMargin

  /** Unbounded file stream over the documents table — the new-batch
    * axis of the st6 streaming curation query (shared bounded-stream
    * plumbing: [[IngestQueries.boundedTableStream]]). */
  private def docsStream(s: SparkSession, d: String): DataFrame =
    IngestQueries.boundedTableStream(s, d, "documents.parquet")
      .select(col("doc_id"), col("text"))

  /** Stage DataFrames as single parquet files with pinned, strictly
    * increasing mod-times under a fresh temp dir: with
    * `maxFilesPerTrigger=1` the file source takes one per micro-batch,
    * oldest first — a REAL multi-trigger arrival replay, not a
    * simulation (st7/st8). Returns (stageRoot, inDir); callers clean
    * both up via LocalRun.deleteRecursively once the stream is done. */
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

  private[queries] def stageArrivalDays(days: Seq[DataFrame], prefix: String)
      : (java.nio.file.Path, java.nio.file.Path) = {
    val stage = java.nio.file.Files.createTempDirectory(prefix)
    val inDir = stage.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    days.zipWithIndex.foreach { case (df, i) =>
      val dest = inDir.resolve(s"day${i + 1}.parquet")
      graft.LocalRun.writeSingleParquet(df, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    (stage, inDir)
  }

  /** The curated-source predicate shared by tx10 (DSIR target), tx12
    * (LM training slice) and tx14 (classifier labels). */
  private val CuratedSources = Seq("src0", "src1", "src2", "src3")

  /** Materialize `df` hash-partitioned by `key` into the session's
    * `spark.sql.shuffle.partitions` and hand back a frame whose plan
    * DECLARES that partitioning (r18): the one-exchange pipelines
    * (tx21/llm4) hash the corpus by doc id once and run every (key, …)-
    * keyed aggregation/window/join downstream shuffle-free. It is a
    * checkpoint because the analyzer's self-join dedup clones a bare
    * shared `repartition` subtree per consuming arm (N un-reused corpus
    * shuffles instead of 1 — measured 2× slower); a checkpoint under
    * AQE records UnknownPartitioning, so [[CheckpointBridge]]
    * re-declares the by-number repartition, which AQE never coalesces.
    * Always inside the timed region — the builder runs per measured
    * iteration. At cluster scale this is a key-clustered stage write
    * (Iceberg hash distribution-mode). Callers return plans that still
    * read it, so it lives in [[Artifacts]] under (session, dir, name)
    * until the next build replaces and releases it (bounded: one per
    * query per session). */
  private[queries] def partitionedCheckpoint(s: SparkSession, d: String,
      name: String, df: DataFrame, key: String): DataFrame = {
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    Artifacts.replace(s, d, name)(_.checkpoint(CheckpointBridge.hashPartitioned(
      df.repartition(n, col(key)).localCheckpoint(true), key, n)))
  }

  /** tx12/llm2's [[LangModel.train]] (trunc-6 tables) under
    * (session, dir, name): its pair-count checkpoint lives until the
    * next build replaces and releases it. */
  private def trainedLm(s: SparkSession, d: String, name: String,
                        target: DataFrame, buckets: Int): (DataFrame, DataFrame) =
    Artifacts.replace(s, d, name) { own =>
      val lm = LangModel.train(target, "doc_id", "text", buckets, alpha = 1.0,
        logpTrunc = Fmt.t6)
      own.checkpoint(lm._1)
      lm
    }

  /** The fitted quality classifier (64 hashed buckets, 4 IRLS
    * iterations), fitted once per dir — the share-the-fit contract: the
    * Spark query and the generated oracle read the same coefficients in
    * the same JVM. */
  private val LogitBuckets = 64
  private[queries] def fittedQualityModel(s: SparkSession, d: String): graft.ml.Logistic.LogitFit =
    Artifacts.get(Artifacts.Jvm, d, "quality_model") { _ =>
      val docs = Tables.documents(s, d)
      val labeled = graft.ml.Logistic
        .hashedFeatures(docs, "doc_id", "text", LogitBuckets)
        .join(docs.select(col("doc_id"),
          col("source").isin(CuratedSources: _*).cast("double").as("__y")),
          Seq("doc_id"))
      graft.ml.Logistic.fitIrls(labeled, "feats", "__y", p = LogitBuckets)
    }
  /** The trained PQ codebooks (ss5), trained once per dir: M=8
    * subspaces × ks=16 codewords, local Lloyd fit on the 256
    * md5-smallest vectors ([[Similarity.pqTrainCodebooks]]) —
    * share-the-fit: the ss5 query and its generated oracle read the
    * same trunc-6 literals. */
  private[queries] val PqM = 8
  private[queries] val PqSubDim = 8
  private val PqKs = 16
  private val PqSampleN = 256
  private val PqNProbe = 3
  private def trainedPqCodebooks(s: SparkSession, d: String): Seq[(Int, Int, Array[Double])] =
    Artifacts.get(Artifacts.Jvm, d, "pq_codebooks")(_ =>
      Similarity.pqTrainCodebooks(Tables.embeddings(s, d), "vec_id",
        "embedding", PqM, PqSubDim, PqKs, PqSampleN))

  /** The PERSISTED int8 corpus table, one per dir (ss9/st15 — the
    * ss6 storage claim made real, r13 verdict ask #1): the quantized
    * corpus (vec_id, q8 ARRAY<TINYINT>, scale FLOAT — the production
    * storage schema; cosine never reads scale, so column pruning drops
    * it from the serving scan) written ONCE to a scratch parquet dir
    * and served to every stored-table ANN query in this JVM —
    * fit-once-serve-many, the x15 posture. [[Similarity.int8Quantize]]
    * is deterministic and tinyint survives parquet exactly, so reads
    * are hash-identical to in-session quantization (ss9 proves it by
    * sharing ss7's oracle). The tree is swept at JVM exit; the key is
    * the data dir, so a session recycle re-reads the same table — the
    * path outlives any one session. */
  private[queries] def persistedInt8Dir(s: SparkSession, d: String): String =
    Artifacts.get(Artifacts.Jvm, d, "int8_corpus") { own =>
      val stage = own.tree(java.nio.file.Files.createTempDirectory("graft_int8_"))
      val table = stage.resolve("int8_corpus").toString
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          Similarity.int8Quantize(col("embedding"),
            Similarity.int8Scale(col("embedding"))).as("q8"),
          Similarity.int8Scale(col("embedding")).cast("float").as("scale"))
        .write.mode("overwrite").parquet(table)
      table
    }

  /** The label-mean trunc-6 'trained' centroids every IVF query shares
    * (ss2/ss5/ss8/ss10/ss11): each element truncated to 6 decimals so
    * the centroid is identical across engines AND runs — a float avg's
    * summation order is scheduler-dependent, and an ulp wobble at an
    * argmin boundary would flip a cell assignment. */
  private def labelCentroids(emb: DataFrame): DataFrame = emb
    .select(col("label").as("cell"), col("embedding"))
    .groupBy("cell")
    .agg(array((0 until 64).map(i =>
      Fmt.trunc(avg(element_at(col("embedding"), i + 1)), 6)): _*).as("cent_vec"))

  /** The PERSISTED IVF/PQ index, one per dir (ss10/ss11 — the r14
    * verdict's top structural ask: ss9 persisted the VECTORS; the
    * production ANN shape also stores the INDEX and serves from it).
    * Written once per JVM per data dir, four tables under one stage:
    *   centroids/  (cell, cent_vec ARRAY<DOUBLE>)   — [[labelCentroids]]
    *   cells/      (vec_id, cell, q8 ARRAY<TINYINT>) — the inverted
    *               file: [[Similarity.assignCells]] assignment + the
    *               int8 codes, the table ss10's coarse pass scans
    *   codebook/   (pq_m, pq_cid, pq_vec ARRAY<DOUBLE>) — the trained
    *               PQ codebooks ([[trainedPqCodebooks]]' trunc-6 rows)
    *   codes/      (vec_id, cell, pq_m, pq_cid) — [[Similarity.pqEncode]]
    *               over ss5's label cells, the table ss11's ADC scans
    * Every stored value is roundtrip-exact (truncated doubles, tinyint
    * codes, int ids), so serving from these tables is hash-identical
    * to the in-session index — ss10/ss11 prove it by sharing ss8/ss5's
    * oracles verbatim (the ss9/dd11 precedent). cells/ and codes/ are
    * written `.partitionBy("cell")` (r15 verdict ask #1 — the layout
    * the serving docs always claimed; cell is int32 so the
    * partition-column roundtrip is exact), and the serving queries
    * prune STATICALLY: [[Similarity.probedCellSet]]'s literal cell
    * list lands in the scan's PartitionFilters, so a serve lists only
    * probed-cell directories at plan time — ~nProbe/nCells of the
    * inverted file AT THE SOURCE, at every scale, with no dependence
    * on DPP's cost-model/broadcast-reuse heuristics (which observably
    * degrade the dynamic filter to `true` on this shape).
    * IvfStorePruningSpec pins the pruned partition count and the
    * PartitionFilters line. centroids/ and codebook/ are
    * broadcast-tiny by construction. */
  private[queries] def persistedIvfDir(s: SparkSession, d: String): String =
    Artifacts.get(Artifacts.Jvm, d, "ivf_index") { own =>
      import s.implicits._
      val stage = own.tree(java.nio.file.Files.createTempDirectory("graft_ivf_"))
      val emb = Tables.embeddings(s, d)
      val cents = labelCentroids(emb)
      cents.write.mode("overwrite").parquet(stage.resolve("centroids").toString)
      Similarity.assignCells(emb, "vec_id", "embedding",
          cents, "cell", "cent_vec")
        .select(col("vec_id"), col("cell"),
          Similarity.int8Quantize(col("embedding"),
            Similarity.int8Scale(col("embedding"))).as("q8"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(stage.resolve("cells").toString)
      val codebook = trainedPqCodebooks(s, d)
        .map { case (m0, cid, v) => (m0, cid, v.toSeq) }
        .toDF("pq_m", "pq_cid", "pq_vec")
      codebook.write.mode("overwrite")
        .parquet(stage.resolve("codebook").toString)
      Similarity.pqEncode(emb.withColumn("cell", col("label")),
          "vec_id", "embedding", codebook, PqM, PqSubDim,
          carry = Seq("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(stage.resolve("codes").toString)
      stage.toString
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
  private val EmbTauQ = 0.98
  private val EmbTau = 0.99

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
    def qzOver(src: String): String =
      s"""SELECT vec_id, embedding,
         |    list_transform(embedding, x ->
         |      CASE WHEN s > 0 THEN floor(CAST(x AS DOUBLE) / s + 0.5)
         |           ELSE 0.0 END) AS qv
         |  FROM (SELECT vec_id, embedding,
         |          list_max(list_transform(embedding,
         |            x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
         |        FROM $src)""".stripMargin
    def qdot(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), i -> $a.qv[i] * $b.qv[i]))"
    def fdot(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), " +
        s"i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))"
    val qcos = s"${qdot("n", "m")} / (sqrt(${qdot("n", "n")}) * sqrt(${qdot("m", "m")}))"
    val fcos = s"${fdot("n", "m")} / (sqrt(${fdot("n", "n")}) * sqrt(${fdot("m", "m")}))"
    def leg(nCte: String, mCte: String, side: String, batch: Int): String = {
      val idCond =
        if (side == "new") "n.vec_id < m.vec_id" else "n.vec_id <> m.vec_id"
      s"""SELECT n.vec_id AS new_id, m.vec_id AS matched_id,
         |       '$side' AS matched_side,
         |       floor(($fcos) * 1e4 + 1e-6) / 1e4 AS cos_sim,
         |       CAST($batch AS BIGINT) AS batch_id
         |FROM $nCte n JOIN $mCte m ON $idCond
         |WHERE isfinite(${fdot("n", "n")}) AND ${fdot("n", "n")} > 0
         |  AND isfinite(${fdot("m", "m")}) AND ${fdot("m", "m")} > 0
         |  AND isfinite(${qdot("n", "n")}) AND ${qdot("n", "n")} > 0
         |  AND isfinite(${qdot("m", "m")}) AND ${qdot("m", "m")} > 0
         |  AND $qcos >= $EmbTauQ AND $fcos >= $EmbTau""".stripMargin
    }
    s"""WITH b1 AS (
       |  ${embBatchesSql(0)}),
       |b2 AS (
       |  ${embBatchesSql(1)}),
       |v0 AS (SELECT vec_id, embedding FROM embeddings),
       |v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM b1),
       |qb1 AS (${qzOver("b1")}),
       |qb2 AS (${qzOver("b2")}),
       |qv0 AS (${qzOver("v0")}),
       |qv1 AS (${qzOver("v1")})
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
      def q8of(c: org.apache.spark.sql.Column) =
        Similarity.int8Quantize(c, Similarity.int8Scale(c))
      emb.select(col("vec_id"), col("embedding"),
          q8of(col("embedding")).as("q8"))
        .write.mode("overwrite").parquet(stage.resolve("idx/base").toString)
      val (arr, inDir) = stageArrivalDays(
        Seq(embBatch1(emb), embBatch2(emb)), "graft_st16_in_")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", stage.resolve("ckpt").toString)
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          // the index as of this batch: base + every PRIOR batch's
          // appended dir, by explicit path — never the batch's own
          // (possibly partial, mid-retry) subdirectory
          val paths = stage.resolve("idx/base").toString +:
            (0L until batchId).map(i => stage.resolve(s"idx/batch=$i").toString)
          val cur = s.read.parquet(paths: _*)
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
          ()
        }
        .start()
      q.awaitTermination()
      graft.LocalRun.deleteRecursively(inDir)
      graft.LocalRun.deleteRecursively(arr)
      graft.LocalRun.deleteRecursively(stage.resolve("ckpt"))
      stage.toString
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
      def q8of(c: org.apache.spark.sql.Column) =
        Similarity.int8Quantize(c, Similarity.int8Scale(c))
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
      val (arr, inDir) = stageArrivalDays(
        Seq(curBatch1(docs), curBatch2(docs)), "graft_llm8_in_")
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType)
        .add("src_id", org.apache.spark.sql.types.LongType)
        .add("text", org.apache.spark.sql.types.StringType)
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", stage.resolve("ckpt").toString)
        .foreachBatch { (b: DataFrame, batchId: Long) =>
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
            val idxPaths = stage.resolve("idx/base").toString +:
              (0L until batchId)
                .map(i => stage.resolve(s"idx/batch=$i").toString)
            val idx = s.read.parquet(idxPaths: _*)
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
          ()
        }
        .start()
      q.awaitTermination()
      if (!(table eq baseTable)) table.unpersist(blocking = false)
      graft.LocalRun.deleteRecursively(inDir)
      graft.LocalRun.deleteRecursively(arr)
      graft.LocalRun.deleteRecursively(stage.resolve("ckpt"))
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
    * target-bucket-rows (env `SPARK_GRAFT_LABEL_BUCKETS`) so bucket
    * reads approach point lookups; a keyed upsert table (Delta/Hudi
    * merge-on-read) is the limit of the same design. The fixture
    * default (8) keeps the two-trigger bench's file counts sane. */
  private[graft] val LabelBuckets: Int =
    sys.env.getOrElse("SPARK_GRAFT_LABEL_BUCKETS", "8").toInt
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
      val (arr, inDir) = stageArrivalDays(
        Seq(pairBatch1(docs), pairBatch2(docs)), "graft_st18_in_")
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_a", org.apache.spark.sql.types.LongType)
        .add("doc_b", org.apache.spark.sql.types.LongType)
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", stage.resolve("ckpt").toString)
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          def storePaths(suffix: String) =
            stage.resolve(s"labels/base$suffix").toString +:
              (0L until batchId)
                .map(i => stage.resolve(s"labels/batch=$i$suffix").toString)
          val labelPaths = storePaths("")        // doc-bucketed layout
          val grpPaths = storePaths("ByGrp")     // group-bucketed layout
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
          ()
        }
        .start()
      q.awaitTermination()
      graft.LocalRun.deleteRecursively(inDir)
      graft.LocalRun.deleteRecursively(arr)
      graft.LocalRun.deleteRecursively(stage.resolve("ckpt"))
      stage.toString
    }

  /** mm9/mm10's deterministic grayscale fixture: pixel (x, y) of the
    * image derived from `src` (gradient slopes src mod 7/11, constant
    * offset src), with pert = 1 flipping pixel (0, 0) by +1 — a
    * hamming ≤ 1 dHash perturbation (≥ 3 of 4 bands untouched, so
    * banding cannot miss it). */
  private def imageFixturePixel(src: Long, pert: Int)(x: Int, y: Int): Int = {
    val v = ((3 * (src % 7 + 1) * x + 5 * (src % 11 + 1) * y + src) % 256).toInt
    if (pert == 1 && x == 0 && y == 0) (v + 1) % 256 else v
  }

  /** Synthesize, PNG-encode, REALLY decode (javax.imageio roundtrip —
    * the codec leg) and dHash a batch of fixture images: one (doc_id,
    * h_lo, h_hi) row per decodable 18×16 image. Only the ids passed
    * here pay codec work — the seam mm10's incremental claim rests
    * on. Both dimensions gate the hash (dhashHalves' grid contract:
    * a decodable wrong-sized image would pack null comparisons as
    * 0-bits and band-collide as a false near-dup). */
  private def imageHashes(s: SparkSession, ids: Seq[(Long, Long, Int)]): DataFrame = {
    import s.implicits._
    val rows = ids.map { case (id, src, pert) =>
      (id, Multimodal.grayPng(18, 16)(imageFixturePixel(src, pert)))
    }
    val px = Multimodal
      .grayPixelsBatched(rows.toDF("doc_id", "payload"), "doc_id", "payload")
      .toDF()
    val (lo, hi) = Multimodal.dhashHalves(col("pixels"))
    px.filter(col("width") === 18 && col("height") === 16)
      .select(col("doc_id"), lo.as("h_lo"), hi.as("h_hi"))
  }

  /** mm11's deterministic PCM fixture: channel-0 sample t of the clip
    * derived from `src` (ramp slopes src mod 7/11, per-window step,
    * constant offset), with pert = 1 bumping sample 0 by +1 — only
    * window 0's energy changes ((v+1)² ≠ v² for integer v), so at most
    * fingerprint bit 0 flips: hamming ≤ 1, ≥ 3 of 4 bands untouched,
    * banding cannot miss. Values stay in [-200, 201] — exact through
    * PCM-16. */
  private def audioFixtureSample(src: Long, pert: Int)(t: Int): Short = {
    val v = (3 * (src % 7 + 1) * t + 5 * (src % 11 + 1) * (t / 32) +
      src * 11) % 401 - 200
    (if (pert == 1 && t == 0) v + 1 else v).toShort
  }

  /** Synthesize, WAV-encode, REALLY decode (javax.sound roundtrip —
    * the codec leg; PCM-16 is lossless so decoded samples ARE the
    * formula values) and energy-fingerprint a batch of fixture clips:
    * one (doc_id, h_lo, h_hi) row per decodable mono 2080-sample clip.
    * Both gates matter (energyFingerprintHalves' grid contract): a
    * decodable short/multichannel clip would pack null comparisons as
    * 0-bits and band-collide as a false near-dup. */
  private def audioHashes(s: SparkSession, ids: Seq[(Long, Long, Int)]): DataFrame = {
    import s.implicits._
    val rows = ids.map { case (id, src, pert) =>
      (id, Multimodal.pcm16Wav(8000, 1,
        Array.tabulate(2080)(t => audioFixtureSample(src, pert)(t))))
    }
    val px = Multimodal
      .audioSamplesBatched(rows.toDF("doc_id", "payload"), "doc_id", "payload")
      .toDF()
    val (lo, hi) = Multimodal.energyFingerprintHalves(col("samples"))
    px.filter(col("channels") === 1 && size(col("samples")) === 2080)
      .select(col("doc_id"), lo.as("h_lo"), hi.as("h_hi"))
  }

  /** The Gopher TEXT-LEVEL quality columns shared by llm4 and llm5 —
    * ONE definition so the two chains cannot drift (r14 self-review;
    * thresholds in [[gopherBaseKeep]] are the chain constants tx20
    * documents vs the paper's web-page 50/2). Unused columns prune
    * away under Catalyst, so llm5 paying for llm4's extra ratios here
    * costs nothing. */
  private def gopherQualityCols(df: DataFrame): DataFrame = df
    .withColumn("ws", TextOps.words(col("text")))
    .withColumn("n_words", size(col("ws")).cast("long"))
    .withColumn("sum_wl",
      aggregate(col("ws"), lit(0L), (a, w) => a + length(w)))
    .withColumn("hash_ratio",
      TextOps.hashWordRatio(col("text"), col("ws")))
    .withColumn("ellipsis_ratio",
      TextOps.ellipsisWordRatio(col("text"), col("ws")))
    .withColumn("alpha_frac", TextOps.alphaWordFrac(col("ws")))
    .withColumn("stop_hits", TextOps.gopherStopHits(col("ws")).cast("int"))

  /** The base Gopher keep predicate over [[gopherQualityCols]]'
    * columns: word-count band, mean word length, alphabetic fraction,
    * stop-word minimum. llm4 adds the hash/ellipsis ratio terms, llm5
    * the tx17 blocklist. */
  private def gopherBaseKeep: org.apache.spark.sql.Column = {
    val meanWl = col("sum_wl").cast("double") / col("n_words").cast("double")
    col("n_words").between(30, 100000) &&
      meanWl >= 3.0 && meanWl <= 10.0 &&
      col("alpha_frac") >= 0.8 && col("stop_hits") >= 1
  }

  /** The PERSISTED dHash band index of mm10's existing image corpus
    * (ids 1-80), written once per JVM — dd11's persisted-signature
    * pattern on image fingerprints: schema (band, band_val, doc_id,
    * h_lo, h_hi) = [[graft.ops.BandedHamming.withBands]]' output, so
    * an incremental batch equi-joins it directly and the existing
    * images are never re-decoded. Swept at JVM exit. */
  private def mm10ImageIndexDir(s: SparkSession): String =
    Artifacts.get(Artifacts.Jvm, "", "mm10_image_index") { own =>
      val stage = own.tree(java.nio.file.Files.createTempDirectory("graft_mm10_"))
      val table = stage.resolve("dhash_bands").toString
      graft.ops.BandedHamming
        .withBands(imageHashes(s, (1L to 80L).map(i => (i, i, 0))),
          "h_lo", "h_hi")
        .select("band", "band_val", "doc_id", "h_lo", "h_hi")
        .write.mode("overwrite").parquet(table)
      table
    }

  /** The PERSISTED energy-fingerprint band index of mm12's existing
    * audio corpus (clips 1-60, mm11's base population) — the mm10
    * writer verbatim one modality over (r15 verdict ask #3, the last
    * hole in the modality × incremental matrix): schema (band,
    * band_val, doc_id, h_lo, h_hi) = [[graft.ops.BandedHamming
    * .withBands]]' output over [[audioHashes]]' Haitsma-Kalker-shaped
    * fingerprints, written once per JVM; the existing clips' WAV
    * payloads are never re-decoded by an incremental batch. Swept at
    * JVM exit. */
  private def mm12AudioIndexDir(s: SparkSession): String =
    Artifacts.get(Artifacts.Jvm, "", "mm12_audio_index") { own =>
      val stage = own.tree(java.nio.file.Files.createTempDirectory("graft_mm12_"))
      val table = stage.resolve("afp_bands").toString
      graft.ops.BandedHamming
        .withBands(audioHashes(s, (1L to 60L).map(i => (i, i, 0))),
          "h_lo", "h_hi")
        .select("band", "band_val", "doc_id", "h_lo", "h_hi")
        .write.mode("overwrite").parquet(table)
      table
    }
  private def oraclePqCodebooks: Option[Seq[(Int, Int, Array[Double])]] =
    Tables.withPrimedSession("ss5")(trainedPqCodebooks)

  /** ss5's GENERATED oracle (share-the-fit: the trained codebooks
    * inline as trunc-6 literals), shared verbatim by ss11 — serving
    * from the persisted codes/codebook/centroid tables must reproduce
    * the in-session encoding bit-for-bit. */
  private def ss5OracleSql: Option[String] =
    oraclePqCodebooks.map { cbRows =>
        // every structural literal below derives from the SAME PqM /
        // PqSubDim / PqNProbe constants the Spark side reads — a
        // parameter change cannot silently desynchronize the template
        def sq(a: String, b: String, n: Int): String =
          s"list_sum(list_transform(range(1, ${n + 1}), " +
            s"i -> (CAST($a[i] AS DOUBLE) - $b[i]) * (CAST($a[i] AS DOUBLE) - $b[i])))"
        val adcSum = (0 until PqM)
          .map(i => s"sum(CASE WHEN cand.m = $i THEN pd END)").mkString(" + ")
        val cbVals = cbRows
          .map { case (m0, cid, v) => s"($m0, $cid, [${v.mkString(", ")}])" }
          .mkString(",\n  ")
        val sd = PqSubDim
        s"""WITH pqm AS (SELECT unnest(range(0, $PqM)) AS m),
           |cb(m, cid, cbv) AS (VALUES
           |  $cbVals),
           |psub AS (
           |  SELECT vec_id, label AS cell, pqm.m AS m,
           |         embedding[(pqm.m * $sd + 1):(pqm.m * $sd + $sd)] AS sub
           |  FROM embeddings, pqm),
           |enc AS (
           |  SELECT vec_id, cell, m, cid FROM (
           |    SELECT p.vec_id, p.cell, p.m, c.cid,
           |           row_number() OVER (PARTITION BY p.vec_id, p.m
           |             ORDER BY ${sq("p.sub", "c.cbv", PqSubDim)}, c.cid) AS rn
           |    FROM psub p JOIN cb c ON p.m = c.m)
           |  WHERE rn = 1),
           |cent0 AS (
           |  SELECT label AS cell, pqi2.i AS i,
           |         floor(avg(CAST(embedding[pqi2.i] AS DOUBLE)) * 1e6 + 1e-6) / 1e6 AS c
           |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) pqi2
           |  GROUP BY label, pqi2.i),
           |cent AS (SELECT cell, list(c ORDER BY i) AS cent_vec FROM cent0 GROUP BY cell),
           |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
           |      WHERE vec_id % 100 = 0),
           |probes AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q.q_id, c.cell,
           |           row_number() OVER (PARTITION BY q.q_id
           |             ORDER BY ${sq("q.q_vec", "c.cent_vec", 64)}, c.cell) AS rn
           |    FROM q CROSS JOIN cent c)
           |  WHERE rn <= $PqNProbe),
           |qsub AS (
           |  SELECT q_id, pqm.m AS m, q_vec[(pqm.m * $sd + 1):(pqm.m * $sd + $sd)] AS sub
           |  FROM q, pqm),
           |lut AS (
           |  SELECT s.q_id, s.m, c.cid, ${sq("s.sub", "c.cbv", PqSubDim)} AS pd
           |  FROM qsub s JOIN cb c ON s.m = c.m),
           |cand AS (
           |  SELECT p.q_id, e.vec_id, e.m, e.cid
           |  FROM enc e JOIN probes p ON e.cell = p.cell
           |  WHERE e.vec_id <> p.q_id),
           |adc AS (
           |  SELECT cand.q_id, cand.vec_id, $adcSum AS approx
           |  FROM cand JOIN lut ON cand.q_id = lut.q_id
           |    AND cand.m = lut.m AND cand.cid = lut.cid
           |  GROUP BY cand.q_id, cand.vec_id)
           |SELECT query_id, neighbor_id,
           |       floor(approx * 1e6 + 1e-6) / 1e6 AS approx_dist, rank
           |FROM (
           |  SELECT q_id AS query_id, vec_id AS neighbor_id, approx,
           |         row_number() OVER (PARTITION BY q_id
           |           ORDER BY approx, vec_id) AS rank
           |  FROM adc)
           |WHERE rank <= 3
           |ORDER BY query_id, rank""".stripMargin
    }

  private def oracleLogit: Option[graft.ml.Logistic.LogitFit] =
    Tables.withPrimedSession("tx14")(fittedQualityModel)

  private def tx14OracleSql(fit: graft.ml.Logistic.LogitFit): String = {
    val wtRows = (0 until LogitBuckets)
      .map(b => s"($b, ${fit.bucketWeight(b)})").mkString(",\n  ")
    val srcs = CuratedSources.map(s => s"'$s'").mkString(", ")
    s"""WITH wt(b, w) AS (VALUES
       |  $wtRows),
       |bc AS (
       |  SELECT doc_id,
       |         CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS UBIGINT) % $LogitBuckets AS BIGINT) AS b,
       |         count(*) AS c
       |  FROM (SELECT doc_id,
       |               unnest(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_id, sum(c) AS n_words, sum(w * c) AS dot
       |  FROM bc JOIN wt USING (b) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(sc.n_words AS BIGINT) AS n_words,
       |       floor((1.0 / (1.0 + exp(-(${fit.intercept} + sc.dot / sc.n_words)))) * 1e6 + 1e-6) / 1e6 AS quality_prob,
       |       floor((1.0 / (1.0 + exp(-(${fit.intercept} + sc.dot / sc.n_words)))) * 1e6 + 1e-6) / 1e6 >= 0.25 AS keep,
       |       d.source IN ($srcs) AS is_curated
       |FROM sc JOIN documents d USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
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

  /** Learned BPE merges (top-2000 word histogram, 24 merges), learned
    * once per dir — the MlQueries share-the-fit contract: Verify runs
    * the Spark query and generates the oracle in the same JVM, so both
    * read the identical merge table no matter how ties fell. */
  private[queries] def learnedMerges(s: SparkSession, d: String): Seq[Bpe.Merge] =
    Artifacts.get(Artifacts.Jvm, d, "bpe_merges")(_ =>
      Bpe.learn(
        Bpe.wordHistogram(Tables.documents(s, d).select(lower(col("text")).as("text")),
          "text", topK = 2000),
        numMerges = 24))

  private def tx11OracleSql(merges: Seq[Bpe.Merge]): String = {
    val symE = Bpe.symSqlExpr("t", Nil)
    val tokE = Bpe.symSqlExpr("t", merges)
    s"""SELECT doc_id, n_chars,
       |  CAST(len(sym) - len(replace(sym, '|', '')) - 1 AS INT) AS n_base_symbols,
       |  CAST(len(tok) - len(replace(tok, '|', '')) - 1 AS INT) AS n_tokens,
       |  floor((CAST(len(sym) - len(replace(sym, '|', '')) - 1 AS DOUBLE) /
       |         (len(tok) - len(replace(tok, '|', '')) - 1)) * 1e6 + 1e-6) / 1e6 AS compression,
       |  md5(tok) AS token_fingerprint
       |FROM (
       |  SELECT doc_id, n_chars, $symE AS sym, $tokE AS tok
       |  FROM (SELECT doc_id, CAST(len(text) AS INT) AS n_chars,
       |               ${Bpe.sanitizeSqlExpr("lower(text)")} AS t
       |        FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** dd10's Spark-side build (planted corpus -> truncated label
    * centroids -> cached argmin assignment -> within-cell semantic
    * dedup), shared verbatim by dd10 and the llm3 chain. Output:
    * (vec_id, cell, max_sim_lower, is_semantic_dup, dup_of). */
  private[queries] def semanticDupsFrame(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val planted = emb.filter(col("vec_id") % 25 === 0)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(slice(col("embedding"), 1, 63), array(lit(0.0f)))
          .as("embedding"),
        col("label"))
    val corpus = emb.select("vec_id", "embedding", "label")
      .unionAll(planted)
    // 'trained' centroids, truncated per element exactly as ss2:
    // a float avg's summation order is scheduler-dependent and an
    // ulp wobble at an argmin boundary would flip a cell
    val centroids = corpus
      .select(col("label").as("cell"), col("embedding"))
      .groupBy("cell")
      .agg(array((0 until 64).map(i =>
        Fmt.trunc(avg(element_at(col("embedding"), i + 1)), 6)): _*)
        .as("cent_vec"))
    // cache the assignment: semanticDups reads it through three
    // plan arms (hi side, lo side, final rejoin), and each arm
    // would otherwise re-run the centroid aggregate + cross join +
    // argmin window. (vec_id, embedding, cell) is corpus-row-sized
    // but narrow — the dd3 cache-the-banded-frame precedent.
    val assigned = Artifacts.frame(s, d, "dd10_assigned")(
      Similarity.assignCells(
        corpus.select("vec_id", "embedding"),
        "vec_id", "embedding", centroids, "cell", "cent_vec"))
    // cache the OUTPUT too: llm3 reads it through two plan arms
    // (per-cell stats + the quota sample) and dd10 shares the steady
    // state — without this the dominant within-cell pairwise-cosine
    // stage executed once per arm (r8 review; the committed llm3 plan
    // showed the hi-lo join twice)
    Artifacts.frame(s, d, "semantic_dups_out")(
      Dedup.semanticDups(assigned, "vec_id", "embedding", "cell",
        tau = 0.9, simTrunc = Fmt.t6))
  }

  /** dd10's full WITH...agg oracle core (planted corpus -> truncated
    * label centroids -> argmin assignment -> within-cell pairwise
    * cosine -> per-row dup aggregate), shared by dd10 and llm3. */
  private def semDedupCoreSql: String =
    """WITH scorpus AS (
          |  SELECT vec_id, embedding, label FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 1000000,
          |         list_concat(embedding[1:63], [CAST(0 AS FLOAT)]), label
          |  FROM embeddings WHERE vec_id % 25 = 0),
          |cent0 AS (
          |  SELECT label AS cell, idx.i AS i,
          |         floor(avg(CAST(embedding[idx.i] AS DOUBLE)) * 1e6 + 1e-6) / 1e6 AS c
          |  FROM scorpus, (SELECT unnest(range(1, 65)) AS i) idx
          |  GROUP BY label, idx.i),
          |cent AS (SELECT cell, list(c ORDER BY i) AS cent_vec FROM cent0 GROUP BY cell),
          |assign AS (
          |  SELECT vec_id, embedding, cell FROM (
          |    SELECT e.vec_id, e.embedding, c.cell,
          |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
          |             list_sum(list_transform(range(1, 65),
          |               i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]) *
          |                    (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]))), c.cell) AS rn
          |    FROM scorpus e CROSS JOIN cent c)
          |  WHERE rn = 1),
          |pairs AS (
          |  SELECT hi.vec_id AS id_hi, lo.vec_id AS id_lo,
          |    floor((
          |      list_sum(list_transform(range(1, 65),
          |        i -> CAST(hi.embedding[i] AS DOUBLE) * CAST(lo.embedding[i] AS DOUBLE))) /
          |      (sqrt(list_sum(list_transform(range(1, 65),
          |        i -> CAST(hi.embedding[i] AS DOUBLE) * CAST(hi.embedding[i] AS DOUBLE)))) *
          |       sqrt(list_sum(list_transform(range(1, 65),
          |        i -> CAST(lo.embedding[i] AS DOUBLE) * CAST(lo.embedding[i] AS DOUBLE)))))) * 1e6 + 1e-6) / 1e6 AS sim
          |  FROM assign hi JOIN assign lo
          |    ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id),
          |agg AS (
          |  SELECT id_hi, max(sim) AS max_sim_lower,
          |         min(CASE WHEN sim >= 0.9 THEN id_lo END) AS dup_of
          |  FROM pairs GROUP BY id_hi)
          |""".stripMargin

  val all: Seq[Q] = Seq(

    Q("dd1_exact_dedup",
      "Exact dedup at scale: one shuffle on the 128-bit content hash, " +
        "canonical min-id survivor + copy count per identical text.",
      (s, d) => {
        // union a full replay so exact duplicates actually exist
        val c = corpus(s, d)
        Dedup.exactDedup(c.unionAll(c), "text", "doc_id")
          .orderBy("content_key")
      },
      Some(corpusSql +
        """replayed AS (
          |  SELECT * FROM corpus UNION ALL SELECT * FROM corpus)
          |SELECT md5(text) AS content_key, min(doc_id) AS keep_id,
          |       count(*) AS n_copies
          |FROM replayed GROUP BY md5(text) ORDER BY content_key""".stripMargin)),

    Q("dd2_minhash_sigs",
      "MinHash signatures (9 permutations as lexicographic-min of " +
        "seeded md5 over 3-word shingles) — the map stage of banded " +
        "near-dup dedup; pure per-document expressions.",
      (s, d) => {
        val ws = TextOps.words(col("text"))
        val sh = TextOps.wordShingles(ws, 3)
        val sig = Dedup.minhashSig(sh, MinhashK)
        corpus(s, d)
          .withColumn("sig", sig)
          .select(col("doc_id") +:
            (0 until MinhashK).map(j => element_at(col("sig"), j + 1).as(s"sig$j")): _*)
      },
      Some(corpusSql + shinglesSql.dropRight(2) + "\n" +
        s"""SELECT doc_id, $sigSqlExprs
           |FROM shingled""".stripMargin)),

    Q("dd3_lsh_near_dup",
      "Banded LSH near-dup detection end-to-end: band keys -> " +
        "candidate pairs (shuffle on band key, never all-pairs) -> " +
        "exact shingle-Jaccard verification >= 0.6.",
      (s, d) =>
        verifiedPairsShared(s, d)
          .select("doc_a", "doc_b", "jaccard")
          .orderBy("doc_a", "doc_b"),
      Some(verifiedPairsSql +
        """SELECT doc_a, doc_b, jaccard FROM verified
          |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("dd7_dup_groups",
      "Near-dup GROUPING (connected components over the dd3-verified " +
        "pair graph): pairs only say a~b; keeping one canonical doc " +
        "per group needs the transitive closure (a~b, b~c -> {a,b,c}). " +
        "Hash-min label propagation, one keyed join + aggregate per " +
        "round, rounds = component diameter (near-cliques from LSH -> " +
        "2-3). The oracle restates the closure as a DuckDB recursive " +
        "CTE — group id, size, and the min-id canonical flag all " +
        "hash-checked.",
      (s, d) => dupGroups(s, d, Dedup.connectedComponents(_, "doc_a", "doc_b")),
      Some(dupGroupsOracleSql)),

    Q("dd8_dup_groups_star",
      "Same near-dup grouping contract as dd7 computed by alternating " +
        "large/small-star (Kiveris et al. 2014) instead of hash-min " +
        "label propagation: rounds grow with log(diameter), not " +
        "diameter — the variant an adversarial corpus (long mutation " +
        "chains) needs at 100 TB. Identical output, same recursive-" +
        "CTE oracle as dd7.",
      (s, d) => dupGroups(s, d, Dedup.connectedComponentsStar(_, "doc_a", "doc_b")),
      Some(dupGroupsOracleSql)),

    Q("dd9_contamination",
      "Benchmark decontamination (the C4/GPT-3 pre-training step): " +
        "flag corpus docs sharing any distinct 8-word-gram with a " +
        "held-out evaluation set (here: every 37th base doc plays the " +
        "benchmark). Broadcast the benchmark's gram set; one map-side " +
        "hash join against the corpus gram stream, no corpus-wide " +
        "shuffle. Planted near-dups of benchmark docs are guaranteed " +
        "positives.",
      (s, d) => {
        val all = corpus(s, d)
        val isBench = col("doc_id") % 37 === 0 && col("doc_id") < 1000000L
        Dedup.contamination(
          all.filter(!isBench), "doc_id", "text",
          all.filter(isBench), "text", n = 8)
          .orderBy("doc_id")
      },
      Some(corpusSql +
        """g AS (
          |  SELECT doc_id, unnest(list_distinct(
          |    CASE WHEN len(ws) >= 8
          |      THEN list_transform(range(1, len(ws) - 6),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] ||
          |             ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7])
          |      ELSE [] END)) AS gram
          |  FROM (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
          |        FROM corpus)),
          |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 37 = 0 AND doc_id < 1000000)
          |SELECT doc_id, count(DISTINCT gram) AS n_shared
          |FROM g JOIN bg USING (gram)
          |WHERE NOT (doc_id % 37 = 0 AND doc_id < 1000000)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("tx16_substring_dedup",
      "EXACT-SUBSTRING dedup (Lee et al. 2021's ExactSubstr, the " +
        "suffix-array recipe restated shuffle-bounded): every 8-word " +
        "span occurring more than once ANYWHERE in the corpus " +
        "(including within one document) is removed from every " +
        "document; the planted mutated docs share near-full-length " +
        "substrings with their originals, so both copies lose the " +
        "shared span. Positioned k-grams -> occurrence count -> " +
        "left-semi flag -> per-doc coverage window -> reassembly; the " +
        "cleaned TEXT itself is hash-checked.",
      (s, d) => {
        Dedup.duplicateSpans(corpus(s, d), "doc_id", "text", k = 8)
          .orderBy("doc_id")
      },
      Some(corpusSql +
        """t AS (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
          |       FROM corpus),
          |tok AS (SELECT doc_id, CAST(u.i AS INT) AS tpos, ws[CAST(u.i AS INT)] AS token
          |        FROM t, unnest(range(1, len(ws) + 1)) AS u(i)),
          |g AS (SELECT doc_id, CAST(u.i AS INT) AS gpos,
          |             ws[CAST(u.i AS INT)] || ' ' || ws[CAST(u.i AS INT)+1] || ' ' ||
          |             ws[CAST(u.i AS INT)+2] || ' ' || ws[CAST(u.i AS INT)+3] || ' ' ||
          |             ws[CAST(u.i AS INT)+4] || ' ' || ws[CAST(u.i AS INT)+5] || ' ' ||
          |             ws[CAST(u.i AS INT)+6] || ' ' || ws[CAST(u.i AS INT)+7] AS gram
          |      FROM t, unnest(range(1, len(ws) - 6)) AS u(i)),
          |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
          |f AS (SELECT doc_id, gpos FROM g JOIN dup USING (gram)),
          |tf AS (SELECT tok.doc_id, tok.tpos, tok.token, f.gpos AS marker
          |       FROM tok LEFT JOIN f ON tok.doc_id = f.doc_id AND tok.tpos = f.gpos),
          |cov AS (SELECT doc_id, tpos, token,
          |               max(marker) OVER (PARTITION BY doc_id ORDER BY tpos
          |                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) IS NOT NULL AS covered
          |        FROM tf)
          |SELECT doc_id, count(*) AS n_tokens,
          |       CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_tokens,
          |       CASE WHEN count(*) = sum(CASE WHEN covered THEN 1 ELSE 0 END)
          |            THEN NULL
          |            ELSE string_agg(CASE WHEN NOT covered THEN token END, ' ' ORDER BY tpos)
          |       END AS clean_text
          |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("tx17_c4_page_filter",
      "C4's page-cleaning rules (Raffel et al. 2020 §2.2) as one " +
        "deterministic map stage: keep only lines ending in terminal " +
        "punctuation, then drop pages with fewer than 3 sentences, " +
        "fewer than 5 words, or a blocklist phrase ('lorem ipsum'). " +
        "Synthesized multi-line pages plant every rule a hit: a nav " +
        "line that never survives, a quote-ended line on every 5th " +
        "page, a blocklist line on every 13th. The FILTERED page text " +
        "itself is hash-checked. Zero shuffle — pure codegen'd string " +
        "work, scan-throughput at any corpus size.",
      (s, d) => {
        val sentenced = regexp_replace(
          col("text"), lit(" table "), lit(". table "))
        val page = concat_ws("\n",
          concat(sentenced, lit(".")),
          lit("click here for more"),
          when(col("doc_id") % 5 === 0, lit("\"a quoted remark\""))
            .otherwise(lit("menu home about")),
          when(col("doc_id") % 13 === 0, lit("lorem ipsum dolor sit amet."))
            .otherwise(lit("contact us today.")))
        def noEnders(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          replace(replace(replace(c, lit("."), lit("")), lit("!"), lit("")),
            lit("?"), lit(""))
        Tables.documents(s, d).select(col("doc_id"), page.as("page"))
          .select(
            col("doc_id"),
            size(filter(split(col("page"), "\n"),
              l => substring(l, -1, 1).isin(".", "!", "?", "\"")))
              .as("n_lines_kept"),
            TextOps.c4KeepLines(col("page")).as("kept"))
          .select(
            col("doc_id"),
            col("n_lines_kept"),
            (length(col("kept")) - length(noEnders(col("kept"))))
              .as("n_sentences"),
            lower(col("kept")).contains("lorem ipsum").as("has_blocklist"),
            md5(col("kept")).as("page_fingerprint"),
            ((length(col("kept")) - length(noEnders(col("kept")))) >= 3 &&
              !lower(col("kept")).contains("lorem ipsum") &&
              size(split(col("kept"), "[ \\t\\n\\x0B\\f\\r]+")) >= 5).as("keep"))
          .orderBy("doc_id")
      },
      Some(
        """WITH pg AS (
          |  SELECT doc_id,
          |         (replace(text, ' table ', '. table ') || '.') || chr(10) ||
          |         'click here for more' || chr(10) ||
          |         (CASE WHEN doc_id % 5 = 0 THEN '"a quoted remark"'
          |               ELSE 'menu home about' END) || chr(10) ||
          |         (CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit amet.'
          |               ELSE 'contact us today.' END) AS page
          |  FROM documents),
          |k AS (
          |  SELECT doc_id,
          |         CAST(len(list_filter(string_split(page, chr(10)),
          |           l -> right(l, 1) IN ('.', '!', '?', '"'))) AS INT) AS n_lines_kept,
          |         array_to_string(list_filter(string_split(page, chr(10)),
          |           l -> right(l, 1) IN ('.', '!', '?', '"')), chr(10)) AS kept
          |  FROM pg)
          |SELECT doc_id, n_lines_kept,
          |       CAST(length(kept) -
          |            length(replace(replace(replace(kept, '.', ''), '!', ''), '?', '')) AS INT)
          |         AS n_sentences,
          |       contains(lower(kept), 'lorem ipsum') AS has_blocklist,
          |       md5(kept) AS page_fingerprint,
          |       (length(kept) - length(replace(replace(replace(kept, '.', ''), '!', ''), '?', ''))) >= 3
          |         AND NOT contains(lower(kept), 'lorem ipsum')
          |         AND len(string_split_regex(kept, '[ \t\n\x0B\f\r]+')) >= 5 AS keep
          |FROM k ORDER BY doc_id""".stripMargin)),

    Q("tx18_c4_full_pipeline",
      "The FULL C4 rule set (Raffel et al. 2020 §2.2; extends tx17, " +
        "r8 verdict ask #5): line keep = terminal punctuation AND >= 5 " +
        "words AND no javascript/policy-boilerplate phrase; citation " +
        "markers ([12], [citation needed]) stripped; page keep = no " +
        "'{' on the raw page AND >= 3 sentences AND no blocklist " +
        "word; then C4's cross-page dedup — all but the FIRST " +
        "occurrence of any three-sentence span discarded (keep-first " +
        "at sentence grain, tx16's coverage machinery). Every rule " +
        "gets a planted hit: a brace line on every 7th page, a " +
        "javascript line on every 3rd, a privacy-policy line on every " +
        "4th, a 2-word line, a citation line, a shared 3-sentence " +
        "block on every 11th page, blocklist on every 13th. The " +
        "final deduped TEXT is hash-checked.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sentenced = regexp_replace(col("text"), " table ", ". table ")
        val sharedBlock =
          "alpha one common block. beta two common block. gamma three common block."
        val page = concat_ws("\n",
          concat(sentenced, lit(".")),
          lit("click here for more"),
          lit("too short."),
          when(col("doc_id") % 3 === 0,
            lit("please enable javascript to continue."))
            .otherwise(lit("the service desk stays open daily.")),
          when(col("doc_id") % 4 === 0,
            lit("we use cookies and a privacy policy applies."))
            .otherwise(lit("fresh updates arrive every single morning.")),
          lit("as shown in [1] the results hold [citation needed]."),
          when(col("doc_id") % 11 === 0, lit(sharedBlock))
            .otherwise(lit("every page closes with its own remark.")),
          when(col("doc_id") % 7 === 0, lit("function f() { return 1; }"))
            .otherwise(lit("plain closing text without any code.")),
          when(col("doc_id") % 13 === 0,
            lit("lorem ipsum dolor sit amet here today."))
            .otherwise(lit("contact us today for more details.")))
        val kept = TextOps.c4StripCitations(TextOps.c4KeepLinesFull(col("page")))
        val withKeep = docs.select(col("doc_id"), page.as("page"))
          .select(col("doc_id"), col("page"), kept.as("kept"))
          .select(col("doc_id"), col("kept"),
            (!col("page").contains("{") &&
              size(TextOps.sentences(col("kept"))) >= 3 &&
              !TextOps.C4PageBlocklist
                .map(p => lower(col("kept")).contains(p)).reduce(_ || _))
              .as("keep"))
        val deduped = Dedup.keepFirstSpanDedup(
          withKeep.filter(col("keep")), "doc_id", "kept", k = 3)
        withKeep.select(col("doc_id"), col("keep"))
          // page-keyed equi-join of two page-count-sized sides — keep it
          // shuffle_hash (the dedup side is corpus-scale, never broadcast)
          .join(deduped.hint("shuffle_hash"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("keep"), col("n_sentences"),
            col("n_removed_sentences"), col("clean_text"))
          .orderBy("doc_id")
      },
      Some(c4FullSql)),

    Q("dd4_simhash_near_dup",
      "SimHash-64 near-dup: per-word bit votes packed to one long, " +
        "planted mutations detected by hamming distance <= 12. The " +
        "word hash is the md5-derived portable long (Dedup.md5Hash64) " +
        "so the whole path — votes, packing, hamming — is fully hash-" +
        "oracled (the DuckDB mirror tallies the same sign vector " +
        "bitwise; xxhash64 stays the default for Spark-only use).",
      (s, d) => {
        val base = corpus(s, d)
          .withColumn("simhash",
            Dedup.simhash64(TextOps.words(col("text")), Dedup.md5Hash64))
        val planted = base.filter(col("doc_id") >= 1000000L)
          .select((col("doc_id") - 1000000L).as("doc_id"), col("simhash").as("sim_b"))
        base.join(planted, Seq("doc_id"))
          .withColumn("hamming", Dedup.hamming64(col("simhash"), col("sim_b")))
          .filter(col("hamming") <= 12)
          .select("doc_id", "hamming")
          .orderBy("doc_id")
      },
      Some(corpusSql +
        """hashes AS (
          |  SELECT doc_id, list_transform(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
          |    w -> CAST(('0x' || substring(md5(w), 1, 16)) AS UBIGINT)) AS hs
          |  FROM corpus),
          |sims AS (
          |  SELECT doc_id,
          |    list_transform(range(0, 64), b ->
          |      CASE WHEN list_sum(list_transform(hs, h ->
          |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
          |      THEN 1 ELSE 0 END) AS sim
          |  FROM hashes)
          |SELECT doc_id, hamming FROM (
          |  SELECT a.doc_id,
          |    CAST(list_sum(list_transform(range(1, 65),
          |      i -> CASE WHEN a.sim[i] != b.sim[i] THEN 1 ELSE 0 END)) AS INT) AS hamming
          |  FROM sims a JOIN sims b ON b.doc_id = a.doc_id + 1000000)
          |WHERE hamming <= 12 ORDER BY doc_id""".stripMargin)),

    Q("dd6_ngram_block_jaccard",
      "Word-bigram Jaccard near-dup with (lang, length-band) BLOCKING " +
        "— the LSH-free member of the dedup family: pairs exist only " +
        "inside a block, then exact bigram-set Jaccard >= 0.6. Trades " +
        "LSH's tunable recall for zero signature cost; misses pairs " +
        "whose edit crosses a band boundary (~1/8 of planted dups " +
        "here) — the blocking/LSH tradeoff stated honestly. r11: " +
        "candidates now come from the PREFIX FILTER scoped per block " +
        "(Dedup.prefixFilterPairs blockCols — every gram-keyed " +
        "exchange carries the block key), not the full block cross: " +
        "identical output (the prefix filter is lossless within any " +
        "block), but the intra-block quadratic is gone — the measured " +
        "0.95 s → 213 s sf1 cliff (10x data → ~100x block pairs) " +
        "drops back onto dd12's linear-candidate path. The oracle " +
        "stays the blocked brute force — the semantic spec that " +
        "proves the per-block prefix join lossless, not merely " +
        "self-consistent.",
      (s, d) => {
        val base = corpus(s, d)
          .withColumn("ws", TextOps.words(col("text")))
          .withColumn("grams", array_distinct(TextOps.wordShingles(col("ws"), 2)))
          .withColumn("band", floor(size(col("ws")) / lit(8)).cast("long"))
          .select("doc_id", "lang", "band", "grams")
        Dedup.prefixFilterPairs(base, "doc_id", "grams", 0.6,
            blockCols = Seq("lang", "band"))
          .withColumn("jaccard", Fmt.trunc(col("jaccard"), 6))
          .orderBy("doc_a", "doc_b")
      },
      Some(corpusSql +
        """grams AS (
          |  SELECT doc_id, lang,
          |         CAST(floor(CAST(len(ws) AS DOUBLE) / 8) AS BIGINT) AS band,
          |         list_distinct(CASE WHEN len(ws) >= 2
          |           THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
          |           ELSE [] END) AS g
          |  FROM (SELECT doc_id, lang, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
          |        FROM corpus)),
          |gnz AS (SELECT * FROM grams WHERE len(g) > 0)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       floor((CAST(len(list_distinct(list_intersect(a.g, b.g))) AS DOUBLE) /
          |              len(list_distinct(list_concat(a.g, b.g)))) * 1e6 + 1e-6) / 1e6 AS jaccard
          |FROM gnz a
          |JOIN gnz b ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
          |WHERE floor((CAST(len(list_distinct(list_intersect(a.g, b.g))) AS DOUBLE) /
          |             len(list_distinct(list_concat(a.g, b.g)))) * 1e6 + 1e-6) / 1e6 >= 0.6
          |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("dd12_prefix_filter_join",
      "EXACT-RECALL all-pairs Jaccard >= 0.6 via prefix filtering " +
        "(Bayardo et al. 2007 All-Pairs; Xiao et al. 2008 PPJoin): " +
        "candidates meet only on a shared PREFIX gram under a global " +
        "rarest-first order, plus the length filter — no (lang, band) " +
        "block quadratic (dd6's sf1 cost: 213 s vs 0.95 s at 10x = " +
        "the documented blocking cliff this operator removes) and " +
        "none of dd6's band-boundary misses. The ORACLE is the " +
        "semantic spec — DuckDB brute-forces every pair — so the " +
        "hash match proves the prefix filter is lossless, not merely " +
        "self-consistent.",
      (s, d) => {
        val base = corpus(s, d)
          .withColumn("ws", TextOps.words(col("text")))
          .withColumn("grams", array_distinct(TextOps.wordShingles(col("ws"), 2)))
          .select("doc_id", "grams")
        Dedup.prefixFilterPairs(base, "doc_id", "grams", 0.6)
          .withColumn("jaccard", Fmt.trunc(col("jaccard"), 6))
          .orderBy("doc_a", "doc_b")
      },
      Some(corpusSql +
        """g0 AS (
          |  SELECT doc_id,
          |         list_distinct(CASE WHEN len(ws) >= 2
          |           THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
          |           ELSE [] END) AS g
          |  FROM (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
          |        FROM corpus)),
          |gnz AS (SELECT doc_id, g FROM g0 WHERE len(g) > 0)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       floor((CAST(len(list_distinct(list_intersect(a.g, b.g))) AS DOUBLE) /
          |              len(list_distinct(list_concat(a.g, b.g)))) * 1e6 + 1e-6) / 1e6 AS jaccard
          |FROM gnz a
          |JOIN gnz b ON a.doc_id < b.doc_id
          |WHERE floor((CAST(len(list_distinct(list_intersect(a.g, b.g))) AS DOUBLE) /
          |             len(list_distinct(list_concat(a.g, b.g)))) * 1e6 + 1e-6) / 1e6 >= 0.6
          |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("sk1_kmv_distinct",
      "Per-language distinct-BIGRAM cardinality via the KMV k-minimum-" +
        "values sketch (Bar-Yossef et al. 2002; Beyer et al. 2007 " +
        "unbiased estimator) — fixed k·8-byte aggregation state per " +
        "group vs countDistinct's universe-sized exact state: the " +
        "bounded, mergeable, map-side-combining shape a 100 TB " +
        "distinct-count ships. Bigrams (~900/lang at sf0.01) saturate " +
        "k=64, so the ORACLE exercises the estimator arm, not just the " +
        "exact-below-k identity. The sketch CONTENT (k smallest " +
        "distinct 60-bit md5 hashes) is replayed exactly — " +
        "list_sort(list(DISTINCT h))[1:k] — so the hash match checks " +
        "the sketch itself, the estimate, and the relative error " +
        "against the exact count carried alongside.",
      (s, d) => {
        val k = 64
        val toks = Tables.documents(s, d)
          .select(col("lang"),
            explode(TextOps.wordShingles(TextOps.words(col("text")), 2)).as("tok"))
        val est = Sketches.kmvEstimate(col("sk"), k)
        toks.groupBy("lang")
          .agg(Sketches.kmvSketch(Sketches.hash60(col("tok")), k).as("sk"),
            countDistinct(col("tok")).as("exact_distinct"))
          .select(col("lang"),
            size(col("sk")).as("sk_size"),
            Sketches.sketchChecksum(col("sk")).as("sk_checksum"),
            Fmt.trunc(est, 6).as("est_distinct"),
            col("exact_distinct"),
            Fmt.trunc(abs(est - col("exact_distinct")) / col("exact_distinct"), 6)
              .as("rel_err"))
          .orderBy("lang")
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
           |sk AS (SELECT lang, (list_sort(list(DISTINCT h)))[1:64] AS sk,
           |              count(DISTINCT tok) AS exact_distinct
           |       FROM hh GROUP BY lang)
           |SELECT lang,
           |  CAST(len(sk) AS INT) AS sk_size,
           |  ${Sketches.sketchChecksumSql("sk")} AS sk_checksum,
           |  floor(($est) * 1e6 + 1e-6) / 1e6 AS est_distinct,
           |  exact_distinct,
           |  floor((abs(($est) - exact_distinct) / exact_distinct) * 1e6 + 1e-6) / 1e6 AS rel_err
           |FROM sk
           |ORDER BY lang""".stripMargin
      }),

    Q("sk2_kmv_merge",
      "KMV mergeability IN-PLAN — the property that makes the sketch a " +
        "distributed operator: per-shard sketches (doc_id % 8, standing " +
        "in for per-partition partials) re-sketched into a per-language " +
        "merged sketch that must be IDENTICAL to sketching the raw " +
        "bigram stream directly (the k global minima each survive their " +
        "shard's k minima — Beyer et al. 2007's multiset-union " +
        "property). Both arms and the equality flag are oracle-replayed; " +
        "KmvSketchSpec pins the same identity through Spark's own " +
        "partial/final aggregation split.",
      (s, d) => {
        val k = 64
        val toks = Tables.documents(s, d)
          .select(col("lang"), pmod(col("doc_id"), lit(8)).as("shard"),
            explode(TextOps.wordShingles(TextOps.words(col("text")), 2)).as("tok"))
          .withColumn("h", Sketches.hash60(col("tok")))
        val l1 = toks.groupBy("lang", "shard")
          .agg(Sketches.kmvSketch(col("h"), k).as("sk"))
        val merged = l1.select(col("lang"), explode(col("sk")).as("uh"))
          .groupBy("lang")
          .agg(Sketches.kmvSketch(col("uh"), k).as("sk_merged"))
        val direct = toks.groupBy("lang")
          .agg(Sketches.kmvSketch(col("h"), k).as("sk_direct"))
        val shards = l1.groupBy("lang").agg(count(lit(1)).as("n_shards"))
        merged.join(direct, Seq("lang")).join(shards, Seq("lang"))
          .select(col("lang"), col("n_shards"),
            Sketches.sketchChecksum(col("sk_merged")).as("merged_checksum"),
            Sketches.sketchChecksum(col("sk_direct")).as("direct_checksum"),
            (col("sk_merged") === col("sk_direct")).as("identical"))
          .orderBy("lang")
      },
      Some {
        val h = Sketches.hash60Sql("tok")
        s"""WITH ws0 AS (
           |  SELECT lang, doc_id % 8 AS shard,
           |         string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |  FROM documents),
           |toks AS (
           |  SELECT lang, shard, unnest(CASE WHEN len(ws) >= 2
           |    THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
           |    ELSE [] END) AS tok
           |  FROM ws0),
           |hh AS (SELECT lang, shard, $h AS h FROM toks),
           |l1 AS (SELECT lang, shard, (list_sort(list(DISTINCT h)))[1:64] AS sk
           |       FROM hh GROUP BY lang, shard),
           |mg AS (SELECT lang, (list_sort(list(DISTINCT uh)))[1:64] AS sk_merged
           |       FROM (SELECT lang, unnest(sk) AS uh FROM l1) GROUP BY lang),
           |dr AS (SELECT lang, (list_sort(list(DISTINCT h)))[1:64] AS sk_direct
           |       FROM hh GROUP BY lang),
           |sh AS (SELECT lang, count(*) AS n_shards FROM l1 GROUP BY lang)
           |SELECT mg.lang, sh.n_shards,
           |  ${Sketches.sketchChecksumSql("sk_merged")} AS merged_checksum,
           |  ${Sketches.sketchChecksumSql("sk_direct")} AS direct_checksum,
           |  sk_merged = sk_direct AS identical
           |FROM mg JOIN dr ON mg.lang = dr.lang JOIN sh ON mg.lang = sh.lang
           |ORDER BY mg.lang""".stripMargin
      }),

    Q("sk3_hll_distinct",
      "Per-(language, gram order) distinct-count via the HyperLogLog " +
        "sketch (Flajolet et al. 2007) — m = 256 one-byte registers of " +
        "per-bucket max rank vs KMV's k·8-byte minima: ~16x less " +
        "aggregation state for the same ~1/sqrt(m) error class, the " +
        "cheapest mergeable distinct-count a 100 TB group-by ships. " +
        "Unigrams (~31 distinct/lang) drive the small-range " +
        "linear-counting arm, bigrams (~900/lang) the raw " +
        "harmonic-mean arm, so the ORACLE replays both corrections. " +
        "The full register array is rebuilt in SQL (bucket = top-8 " +
        "hash bits by integer division, rank via minimal-binary-string " +
        "length, a 256-bucket spine join) and hash-checked — register " +
        "maxima are layout-invariant, so the sketch content is exact " +
        "cross-engine, not just the estimate.",
      (s, d) => {
        val p = 8
        val ws = TextOps.words(col("text"))
        val docs = Tables.documents(s, d)
        val toks = docs
          .select(col("lang"), lit(1).as("gram_n"), explode(ws).as("tok"))
          .union(docs.select(col("lang"), lit(2).as("gram_n"),
            explode(TextOps.wordShingles(ws, 2)).as("tok")))
        val m = 1 << p
        val est = Sketches.hllEstimate(col("regs"), p)
        val amm = Sketches.hllAlpha(p) * m * m
        val harmonic = aggregate(col("regs"), lit(0.0),
          (acc, r) => acc + pow(lit(2.0), -r.cast("double")))
        val zeros = size(filter(col("regs"), r => r === 0))
        toks.groupBy("lang", "gram_n")
          .agg(Sketches.hllSketch(Sketches.hash60(col("tok")), p).as("regs"),
            countDistinct(col("tok")).as("exact_distinct"))
          .select(col("lang"), col("gram_n"),
            size(col("regs")).as("m_registers"),
            size(filter(col("regs"), r => r > 0)).as("nonzero_regs"),
            Sketches.sketchChecksum(col("regs")).as("reg_checksum"),
            Fmt.trunc(est, 6).as("est_distinct"),
            col("exact_distinct"),
            Fmt.trunc(abs(est - col("exact_distinct")) / col("exact_distinct"), 6)
              .as("rel_err"),
            (lit(amm) / harmonic <= lit(2.5 * m) && zeros > lit(0))
              .as("linear_arm"))
          .orderBy("lang", "gram_n")
      },
      Some {
        val p = 8
        val m = 1 << p
        val h = Sketches.hash60Sql("tok")
        val (bucket, rho) = Sketches.hllRhoSql("h", p)
        val est = Sketches.hllEstimateSql("regs", p)
        val amm = Sketches.hllAlpha(p) * m * m
        val harmonic = "list_reduce(list_transform(regs, " +
          "r -> power(2.0, -CAST(r AS DOUBLE))), (a, b) -> a + b)"
        val zeros = "len(list_filter(regs, r -> r = 0))"
        s"""WITH ws0 AS (
           |  SELECT lang, string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |  FROM documents),
           |toks AS (
           |  SELECT lang, 1 AS gram_n, unnest(ws) AS tok FROM ws0
           |  UNION ALL
           |  SELECT lang, 2 AS gram_n, unnest(CASE WHEN len(ws) >= 2
           |    THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
           |    ELSE [] END) AS tok
           |  FROM ws0),
           |hh AS (SELECT lang, gram_n, tok, $h AS h FROM toks),
           |br AS (SELECT lang, gram_n, $bucket AS bucket, $rho AS rho FROM hh),
           |mx AS (SELECT lang, gram_n, bucket, max(rho) AS mr
           |       FROM br GROUP BY lang, gram_n, bucket),
           |grp AS (SELECT DISTINCT lang, gram_n FROM toks),
           |spine AS (SELECT g.lang, g.gram_n, r.bucket
           |          FROM grp g CROSS JOIN range($m) r(bucket)),
           |rg AS (SELECT s.lang, s.gram_n,
           |         list(coalesce(mx.mr, 0) ORDER BY s.bucket) AS regs
           |       FROM spine s LEFT JOIN mx ON mx.lang = s.lang
           |         AND mx.gram_n = s.gram_n AND mx.bucket = s.bucket
           |       GROUP BY s.lang, s.gram_n),
           |ex AS (SELECT lang, gram_n, count(DISTINCT tok) AS exact_distinct
           |       FROM toks GROUP BY lang, gram_n)
           |SELECT rg.lang, rg.gram_n,
           |  CAST(len(regs) AS INT) AS m_registers,
           |  CAST(len(list_filter(regs, r -> r > 0)) AS INT) AS nonzero_regs,
           |  ${Sketches.sketchChecksumSql("regs")} AS reg_checksum,
           |  floor(($est) * 1e6 + 1e-6) / 1e6 AS est_distinct,
           |  exact_distinct,
           |  floor((abs(($est) - exact_distinct) / exact_distinct) * 1e6 + 1e-6) / 1e6 AS rel_err,
           |  ($amm / $harmonic) <= ${2.5 * m} AND $zeros > 0 AS linear_arm
           |FROM rg JOIN ex ON rg.lang = ex.lang AND rg.gram_n = ex.gram_n
           |ORDER BY rg.lang, rg.gram_n""".stripMargin
      }),

    Q("sk4_kmv_set_ops",
      "KMV MULTISET operations (Beyer et al., SIGMOD 2007 §4-5): " +
        "union, intersection and Jaccard ESTIMATES for two sets from " +
        "their sketches alone — the primitive that compares corpus " +
        "vocabularies at 100 TB without ever joining raw data (two " +
        "k-long arrays meet, not two token streams). Per language, " +
        "the bigram sets of even- vs odd-numbered documents (heavy " +
        "real overlap: same vocabulary, split corpora): union sketch " +
        "= k smallest of the merged minima, match fraction in it " +
        "estimates Jaccard, intersection = Jaccard x union estimate. " +
        "Exact n_even/n_odd/n_inter/n_union ride along from the same " +
        "distinct-(lang,tok) grain (one pass, membership flags), so " +
        "the oracle hash-checks estimates AND ground truth. Both " +
        "levels aggregate distinct grains — two bounded shuffles, " +
        "sketch arrays never leave their group.",
      (s, d) => {
        val k = 64
        val toks = Tables.documents(s, d)
          .select(col("lang"), pmod(col("doc_id"), lit(2)).as("parity"),
            explode(TextOps.wordShingles(TextOps.words(col("text")), 2)).as("tok"))
        // distinct-(lang, tok) grain with side-membership flags: the
        // sketch only sees distinct hashes anyway, and the exact
        // set-op counts need exactly this grain — one shared pass
        val grain = toks.groupBy("lang", "tok")
          .agg(max(when(col("parity") === 0, lit(1)).otherwise(lit(0))).as("in_even"),
            max(when(col("parity") === 1, lit(1)).otherwise(lit(0))).as("in_odd"))
          .withColumn("h", Sketches.hash60(col("tok")))
        val agg = grain.groupBy("lang")
          .agg(
            Sketches.kmvSketch(when(col("in_even") === 1, col("h")), k).as("sk_even"),
            Sketches.kmvSketch(when(col("in_odd") === 1, col("h")), k).as("sk_odd"),
            sum(col("in_even")).as("n_even"),
            sum(col("in_odd")).as("n_odd"),
            sum(col("in_even") * col("in_odd")).as("n_inter_exact"))
          .withColumn("mk",
            Sketches.kmvUnionSketch(col("sk_even"), col("sk_odd"), k))
          .withColumn("matches",
            Sketches.kmvMatchCount(col("mk"), col("sk_even"), col("sk_odd")))
          .withColumn("n_union_exact",
            col("n_even") + col("n_odd") - col("n_inter_exact"))
        val jacc = col("matches") / size(col("mk"))
        val unionEst = Sketches.kmvEstimate(col("mk"), k)
        agg.select(col("lang"), col("matches"), size(col("mk")).as("mk_size"),
            Fmt.trunc(jacc, 6).as("jaccard_est"),
            Fmt.trunc(col("n_inter_exact") / col("n_union_exact"), 6)
              .as("jaccard_exact"),
            Fmt.trunc(unionEst, 6).as("union_est"),
            col("n_union_exact"),
            Fmt.trunc(jacc * unionEst, 6).as("inter_est"),
            col("n_inter_exact"))
          .orderBy("lang")
      },
      Some {
        val h = Sketches.hash60Sql("tok")
        val unionEst = Sketches.kmvEstimateSql("mk", 64)
        s"""WITH ws0 AS (
           |  SELECT lang, doc_id % 2 AS parity,
           |         string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |  FROM documents),
           |toks AS (
           |  SELECT lang, parity, unnest(CASE WHEN len(ws) >= 2
           |    THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
           |    ELSE [] END) AS tok
           |  FROM ws0),
           |grain AS (
           |  SELECT lang, tok,
           |    max(CASE WHEN parity = 0 THEN 1 ELSE 0 END) AS in_even,
           |    max(CASE WHEN parity = 1 THEN 1 ELSE 0 END) AS in_odd
           |  FROM toks GROUP BY lang, tok),
           |hh AS (SELECT lang, in_even, in_odd, $h AS h FROM grain),
           |ag AS (
           |  SELECT lang,
           |    (list_sort(list(DISTINCT h) FILTER (WHERE in_even = 1)))[1:64] AS sk_even,
           |    (list_sort(list(DISTINCT h) FILTER (WHERE in_odd = 1)))[1:64] AS sk_odd,
           |    CAST(sum(in_even) AS BIGINT) AS n_even,
           |    CAST(sum(in_odd) AS BIGINT) AS n_odd,
           |    CAST(sum(in_even * in_odd) AS BIGINT) AS n_inter_exact
           |  FROM hh GROUP BY lang),
           |mx AS (
           |  SELECT lang, sk_even, sk_odd, n_even, n_odd, n_inter_exact,
           |    (list_sort(list_distinct(sk_even || sk_odd)))[1:64] AS mk,
           |    n_even + n_odd - n_inter_exact AS n_union_exact
           |  FROM ag),
           |sc AS (
           |  SELECT lang, mk, n_inter_exact, n_union_exact,
           |    len(list_filter(mk, x -> list_contains(sk_even, x)
           |      AND list_contains(sk_odd, x))) AS matches
           |  FROM mx)
           |SELECT lang, CAST(matches AS INT) AS matches,
           |  CAST(len(mk) AS INT) AS mk_size,
           |  floor((CAST(matches AS DOUBLE) / len(mk)) * 1e6 + 1e-6) / 1e6 AS jaccard_est,
           |  floor((CAST(n_inter_exact AS DOUBLE) / n_union_exact) * 1e6 + 1e-6) / 1e6 AS jaccard_exact,
           |  floor(($unionEst) * 1e6 + 1e-6) / 1e6 AS union_est,
           |  n_union_exact,
           |  floor(((CAST(matches AS DOUBLE) / len(mk)) * ($unionEst)) * 1e6 + 1e-6) / 1e6 AS inter_est,
           |  n_inter_exact
           |FROM sc
           |ORDER BY lang""".stripMargin
      }),

    Q("sk5_cms_heavy_hitters",
      "Count-min sketch frequency estimates for the corpus's top-20 " +
        "words (Cormode & Muthukrishnan 2005) — the bounded-state " +
        "answer to 'how often does each token occur' at 100 TB: d=4 " +
        "salted hash rows x w=1024 buckets of occurrence counts, " +
        "built as a TABLE by one map-side-combining shuffle (d*w rows " +
        "total regardless of corpus size), probed by a broadcast join " +
        "and min-over-rows. The sketch NEVER undercounts (est >= " +
        "exact is a deterministic guarantee, not a tendency) — the " +
        "oracle replays the whole sketch and hash-checks estimates, " +
        "exact counts, and the never_under flag per candidate.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val R = 4; val W = 1024
        val toks = Tables.documents(s, d)
          .select(explode(TextOps.words(col("text"))).as("tok"))
        val rowIdx = explode(array((0 until R).map(lit): _*)).as("r")
        val cms = toks.select(col("tok"), rowIdx)
          .select(col("r"), Sketches.cmsBucket(col("r"), col("tok"), W).as("bucket"))
          .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        // candidate set: top-20 by exact count (ties by token) — the
        // ground truth the estimates are judged against; the global
        // window is over the distinct vocabulary, not the corpus
        val cand = exact.withColumn("rk", row_number().over(
            Window.orderBy(col("exact_cnt").desc, col("tok"))))
          .filter(col("rk") <= 20)
        val probes = cand.select(col("tok"), col("exact_cnt"), col("rk"), rowIdx)
          .select(col("tok"), col("exact_cnt"), col("rk"), col("r"),
            Sketches.cmsBucket(col("r"), col("tok"), W).as("bucket"))
        probes.join(broadcast(cms), Seq("r", "bucket"))
          .groupBy("tok", "exact_cnt", "rk")
          .agg(min(col("cnt")).as("est_cnt"))
          .select(col("tok"), col("rk"), col("exact_cnt"), col("est_cnt"),
            (col("est_cnt") >= col("exact_cnt")).as("never_under"),
            (col("est_cnt") - col("exact_cnt")).as("abs_err"))
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
           |  est_cnt - exact_cnt AS abs_err
           |FROM est ORDER BY rk""".stripMargin
      }),

    Q("sk6_bloom_membership",
      "Bloom-filter membership (Bloom, CACM 1970) over each language's " +
        "bigram set — the constant-space set-membership primitive a " +
        "100 TB pipeline uses to pre-filter joins and dedup probes: " +
        "k=4 salted hashes set bits in an m=8192 filter (~900 bigrams " +
        "per language -> ~35% fill; bigrams, because the corpus's 31-" +
        "word unigram vocabulary is SHARED across languages and would " +
        "give five identical filters), built as the SORTED DISTINCT " +
        "POSITION LIST per language (bit-OR of positions is " +
        "commutative and idempotent, so the filter content is layout-" +
        "invariant and the oracle hash-checks it whole). Probes: the " +
        "20 hash-smallest bigrams per language MUST all test positive " +
        "(no false negatives — a deterministic guarantee, checked in-" +
        "row), and 20 synthetic absent tokens measure the false-" +
        "positive count against the fill-ratio theory rate " +
        "(bits_set/m)^k. One bounded shuffle to at most m positions " +
        "per group; probes broadcast-join the filter.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val M = 8192; val K = 4
        val salts = explode(array((0 until K).map(lit): _*)).as("s")
        def positions(df: DataFrame) = df
          .select(col("lang"), col("tok"), col("is_present"), salts)
          .select(col("lang"), col("tok"), col("is_present"),
            pmod(Sketches.hash60(concat_ws(":", col("s"), col("tok"))), lit(M))
              .as("pos"))
        val words = Tables.documents(s, d)
          .select(col("lang"),
            explode(TextOps.wordShingles(TextOps.words(col("text")), 2)).as("tok"))
          .distinct()
        val bloom = positions(words.withColumn("is_present", lit(true)))
          .groupBy("lang").agg(
            array_sort(collect_set(col("pos"))).as("bits"),
            countDistinct(col("tok")).as("n_words"))
        val present = words.withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy(md5(col("tok")), col("tok"))))
          .filter(col("rk") <= 20).drop("rk")
          .withColumn("is_present", lit(true))
        val absent = words.select(col("lang")).distinct()
          .select(col("lang"), explode(sequence(lit(1), lit(20))).as("i"))
          .select(col("lang"),
            concat_ws("_", lit("zz"), col("lang"), col("i")).as("tok"))
          .withColumn("is_present", lit(false))
        val probed = positions(present.unionByName(absent))
          .join(broadcast(bloom.select(col("lang"), col("bits"))), Seq("lang"))
          .groupBy("lang", "tok", "is_present")
          .agg(bool_and(array_contains(col("bits"), col("pos"))).as("positive"))
        probed.groupBy("lang")
          .agg(
            sum(when(col("is_present") && col("positive"), 1).otherwise(0))
              .as("present_positive"),
            sum(when(!col("is_present") && col("positive"), 1).otherwise(0))
              .as("absent_positive"))
          .join(bloom, Seq("lang"))
          .select(col("lang"), col("n_words"),
            size(col("bits")).as("bits_set"),
            Fmt.trunc(size(col("bits")).cast("double") / M, 6).as("fill_ratio"),
            Sketches.sketchChecksum(col("bits")).as("bloom_checksum"),
            col("present_positive"), col("absent_positive"),
            Fmt.trunc(pow(size(col("bits")).cast("double") / M, K), 6)
              .as("fp_theory"))
          .orderBy("lang")
      },
      Some {
        val pos = s"${Sketches.hash60Sql("concat_ws(':', s, tok)")} % 8192"
        s"""WITH ws0 AS (
           |  SELECT lang, string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |  FROM documents),
           |words AS (
           |  SELECT DISTINCT lang, unnest(CASE WHEN len(ws) >= 2
           |    THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
           |    ELSE [] END) AS tok
           |  FROM ws0),
           |wpos AS (
           |  SELECT lang, tok, $pos AS pos
           |  FROM words CROSS JOIN range(4) r(s)),
           |bloom AS (
           |  SELECT lang, list_sort(list(DISTINCT pos)) AS bits
           |  FROM wpos GROUP BY lang),
           |nw AS (SELECT lang, count(DISTINCT tok) AS n_words FROM words GROUP BY lang),
           |present AS (
           |  SELECT lang, tok, TRUE AS is_present FROM (
           |    SELECT lang, tok,
           |      row_number() OVER (PARTITION BY lang ORDER BY md5(tok), tok) AS rk
           |    FROM words) WHERE rk <= 20),
           |absent AS (
           |  SELECT lang, concat_ws('_', 'zz', lang, i) AS tok, FALSE AS is_present
           |  FROM (SELECT DISTINCT lang FROM words) CROSS JOIN range(1, 21) t(i)),
           |probes AS (SELECT * FROM present UNION ALL SELECT * FROM absent),
           |ppos AS (
           |  SELECT p.lang, p.tok, p.is_present, $pos AS pos
           |  FROM probes p CROSS JOIN range(4) r(s)),
           |tested AS (
           |  SELECT pp.lang, pp.tok, pp.is_present,
           |    bool_and(list_contains(b.bits, pp.pos)) AS positive
           |  FROM ppos pp JOIN bloom b ON b.lang = pp.lang
           |  GROUP BY pp.lang, pp.tok, pp.is_present),
           |agg AS (
           |  SELECT lang,
           |    CAST(sum(CASE WHEN is_present AND positive THEN 1 ELSE 0 END) AS BIGINT) AS present_positive,
           |    CAST(sum(CASE WHEN NOT is_present AND positive THEN 1 ELSE 0 END) AS BIGINT) AS absent_positive
           |  FROM tested GROUP BY lang)
           |SELECT a.lang, nw.n_words,
           |  CAST(len(b.bits) AS INT) AS bits_set,
           |  floor((CAST(len(b.bits) AS DOUBLE) / 8192) * 1e6 + 1e-6) / 1e6 AS fill_ratio,
           |  ${Sketches.sketchChecksumSql("b.bits")} AS bloom_checksum,
           |  a.present_positive, a.absent_positive,
           |  floor(power(CAST(len(b.bits) AS DOUBLE) / 8192, 4) * 1e6 + 1e-6) / 1e6 AS fp_theory
           |FROM agg a JOIN bloom b ON b.lang = a.lang JOIN nw ON nw.lang = a.lang
           |ORDER BY a.lang""".stripMargin
      }),

    Q("sk7_sample_quantiles",
      "Per-language document-length QUANTILES from a bottom-k-by-hash " +
        "sample sketch (k=32; functions/KmvPairSketchAgg — the KMV " +
        "state carrying values): a fixed k·16-byte, mergeable, " +
        "layout-invariant aggregation state vs percentile()'s " +
        "universe-sized exact state — the bounded-state quantile the " +
        "sampling family (Manku et al., SIGMOD 1999) ships at 100 TB. " +
        "No rand(): inclusion = the doc's md5 hash rank, so the ORACLE " +
        "rebuilds the IDENTICAL sample by ranking the same hashes " +
        "(list(n_chars ORDER BY h) of the 32 smallest) and replays " +
        "the (m-1)*q interpolation arithmetic step for step; the " +
        "sample content itself is checksum-pinned. ~100 docs/lang " +
        "saturate k=32, so the estimator arm (true subsample) is what " +
        "the oracle checks, with exact p50/p95 carried alongside for " +
        "the honesty columns.",
      (s, d) => {
        val k = 32
        val h = Sketches.hash60(col("doc_id").cast("string"))
        def est(q: Double) = Sketches.sampleQuantile(col("sample"), q)
        Tables.documents(s, d)
          .groupBy("lang")
          .agg(
            Sketches.sampleSketch(h, col("n_chars"), k).as("sample"),
            percentile(col("n_chars"), lit(0.5)).as("ex_p50"),
            percentile(col("n_chars"), lit(0.95)).as("ex_p95"))
          .select(
            col("lang"),
            size(col("sample")).as("sample_size"),
            Sketches.sketchChecksum(col("sample")).as("sample_checksum"),
            Fmt.t6(est(0.25)).as("est_p25"),
            Fmt.t6(est(0.5)).as("est_p50"),
            Fmt.t6(est(0.75)).as("est_p75"),
            Fmt.t6(est(0.95)).as("est_p95"),
            Fmt.t6(col("ex_p50")).as("exact_p50"),
            Fmt.t6(col("ex_p95")).as("exact_p95"),
            Fmt.t6(abs(est(0.5) - col("ex_p50")) / col("ex_p50"))
              .as("rel_err_p50"))
          .orderBy("lang")
      },
      Some {
        val h = Sketches.hash60Sql("CAST(doc_id AS VARCHAR)")
        def est(q: Double) = Sketches.sampleQuantileSql("sample", q)
        s"""WITH qh AS (
           |  SELECT lang, n_chars, $h AS h FROM documents),
           |qrk AS (
           |  SELECT lang, n_chars, h,
           |         row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
           |  FROM qh),
           |qsk AS (
           |  SELECT lang, list(n_chars ORDER BY h) AS sample
           |  FROM qrk WHERE rk <= 32 GROUP BY lang),
           |qex AS (
           |  SELECT lang, quantile_cont(n_chars, 0.5) AS ex_p50,
           |         quantile_cont(n_chars, 0.95) AS ex_p95
           |  FROM documents GROUP BY lang)
           |SELECT qsk.lang,
           |  CAST(len(sample) AS INT) AS sample_size,
           |  ${Sketches.sketchChecksumSql("sample")} AS sample_checksum,
           |  ${Fmt.sql6(est(0.25))} AS est_p25,
           |  ${Fmt.sql6(est(0.5))} AS est_p50,
           |  ${Fmt.sql6(est(0.75))} AS est_p75,
           |  ${Fmt.sql6(est(0.95))} AS est_p95,
           |  ${Fmt.sql6("ex_p50")} AS exact_p50,
           |  ${Fmt.sql6("ex_p95")} AS exact_p95,
           |  ${Fmt.sql6(s"abs(${est(0.5)} - ex_p50) / ex_p50")} AS rel_err_p50
           |FROM qsk JOIN qex ON qsk.lang = qex.lang
           |ORDER BY qsk.lang""".stripMargin
      }),

    Q("sk8_hll_merge",
      "HLL register-max merge IN-PLAN (sk2's mergeability proof for " +
        "the register sketch): per-(lang, shard) register arrays " +
        "(doc_id % 8 shards standing in for per-partition / per-day " +
        "partials) rolled up per language by the native hll_merge " +
        "aggregate (functions/HllMergeAgg — element-wise register " +
        "max), which must be IDENTICAL to sketching the raw bigram " +
        "stream directly: union = register max, and max is " +
        "associative/commutative/idempotent (Flajolet et al. 2007 " +
        "§4). This is the 100 TB ROLLUP shape — persisted per-shard " +
        "sketch tables re-aggregate to any coarser grain without " +
        "re-reading raw data, the exchange carrying m=256 ints per " +
        "group. The ORACLE replays the literal two-level build (per-" +
        "shard max, then max over shards, spine-joined to full " +
        "register arrays) next to the direct build and hash-checks " +
        "both registers and the merged-arm estimate.",
      (s, d) => {
        val p = 8
        val toks = Tables.documents(s, d)
          .select(col("lang"), pmod(col("doc_id"), lit(8)).as("shard"),
            explode(TextOps.wordShingles(TextOps.words(col("text")), 2)).as("tok"))
          .withColumn("h", Sketches.hash60(col("tok")))
        val l1 = toks.groupBy("lang", "shard")
          .agg(Sketches.hllSketch(col("h"), p).as("regs"))
        val merged = l1.groupBy("lang")
          .agg(Sketches.hllMerge(col("regs"), p).as("regs_merged"),
            count(lit(1)).as("n_shards"))
        val direct = toks.groupBy("lang")
          .agg(Sketches.hllSketch(col("h"), p).as("regs_direct"))
        merged.join(direct, Seq("lang"))
          .select(col("lang"), col("n_shards"),
            Sketches.sketchChecksum(col("regs_merged")).as("merged_checksum"),
            Sketches.sketchChecksum(col("regs_direct")).as("direct_checksum"),
            (col("regs_merged") === col("regs_direct")).as("identical"),
            Fmt.trunc(Sketches.hllEstimate(col("regs_merged"), p), 6)
              .as("est_distinct"))
          .orderBy("lang")
      },
      Some {
        val p = 8
        val m = 1 << p
        val h = Sketches.hash60Sql("tok")
        val (bucket, rho) = Sketches.hllRhoSql("h", p)
        val est = Sketches.hllEstimateSql("regs_merged", p)
        s"""WITH ws0 AS (
           |  SELECT lang, doc_id % 8 AS shard,
           |         string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |  FROM documents),
           |toks AS (
           |  SELECT lang, shard, unnest(CASE WHEN len(ws) >= 2
           |    THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
           |    ELSE [] END) AS tok
           |  FROM ws0),
           |hh AS (SELECT lang, shard, $h AS h FROM toks),
           |br AS (SELECT lang, shard, $bucket AS bucket, $rho AS rho FROM hh),
           |l1 AS (SELECT lang, shard, bucket, max(rho) AS mr
           |       FROM br GROUP BY lang, shard, bucket),
           |mmx AS (SELECT lang, bucket, max(mr) AS mr FROM l1 GROUP BY lang, bucket),
           |dmx AS (SELECT lang, bucket, max(rho) AS mr FROM br GROUP BY lang, bucket),
           |grp AS (SELECT DISTINCT lang FROM toks),
           |spine AS (SELECT g.lang, r.bucket
           |          FROM grp g CROSS JOIN range($m) r(bucket)),
           |mg AS (SELECT s.lang, list(coalesce(x.mr, 0) ORDER BY s.bucket) AS regs_merged
           |       FROM spine s LEFT JOIN mmx x ON x.lang = s.lang AND x.bucket = s.bucket
           |       GROUP BY s.lang),
           |dr AS (SELECT s.lang, list(coalesce(x.mr, 0) ORDER BY s.bucket) AS regs_direct
           |       FROM spine s LEFT JOIN dmx x ON x.lang = s.lang AND x.bucket = s.bucket
           |       GROUP BY s.lang),
           |sh AS (SELECT lang, count(DISTINCT shard) AS n_shards FROM hh GROUP BY lang)
           |SELECT mg.lang, sh.n_shards,
           |  ${Sketches.sketchChecksumSql("regs_merged")} AS merged_checksum,
           |  ${Sketches.sketchChecksumSql("regs_direct")} AS direct_checksum,
           |  regs_merged = regs_direct AS identical,
           |  floor(($est) * 1e6 + 1e-6) / 1e6 AS est_distinct
           |FROM mg JOIN dr ON mg.lang = dr.lang JOIN sh ON mg.lang = sh.lang
           |ORDER BY mg.lang""".stripMargin
      }),

    Q("ss1_cosine_topk",
      "Brute-force exact cosine top-5 per query (every 100th vector as " +
        "query, broadcast): the ANN baseline. Double-precision " +
        "sequential folds mirrored bit-identically in SQL.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "q_id", "q_vec", 5)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(
        """WITH q AS (
          |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
          |  WHERE vec_id % 100 = 0),
          |scored AS (
          |  SELECT q.q_id, e.vec_id,
          |    list_sum(list_transform(range(1, len(e.embedding) + 1),
          |      i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
          |    (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
          |      i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
          |     sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
          |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos_sim
          |  FROM embeddings e CROSS JOIN q
          |  WHERE e.vec_id <> q.q_id),
          |ranked AS (
          |  SELECT q_id AS query_id, vec_id AS neighbor_id,
          |         floor((cos_sim) * 1e4 + 1e-6) / 1e4 AS cos_sim,
          |         row_number() OVER (PARTITION BY q_id
          |                            ORDER BY cos_sim DESC, vec_id) AS rank
          |  FROM scored)
          |SELECT * FROM ranked WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)),

    Q("ss2_ivf_topk",
      "IVF approximate top-3: corpus bucketed by nearest label-centroid " +
        "cell, queries probe the 3 closest cells only — the scan-" +
        "pruning scale path. Recall vs brute force asserted in LlmSpec.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // 'trained' centroids: mean vector per label cell, trunc-6 —
        // see labelCentroids (shared by ss2/ss5/ss8/ss10/ss11);
        // everything downstream (sqDist, cosine) is a deterministic
        // sequential fold.
        val centroids = labelCentroids(emb)
        val cellCorpus = Similarity.assignCells(emb, "vec_id", "embedding",
          centroids, "cell", "cent_vec")
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.ivfTopK(cellCorpus, "vec_id", "embedding", "cell",
          centroids, "cent_vec", queries, "q_id", "q_vec", nProbe = 3, k = 3)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(
        """WITH cent0 AS (
          |  SELECT label AS cell, idx.i AS i,
          |         floor(avg(CAST(embedding[idx.i] AS DOUBLE)) * 1e6 + 1e-6) / 1e6 AS c
          |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx
          |  GROUP BY label, idx.i),
          |cent AS (SELECT cell, list(c ORDER BY i) AS cent_vec FROM cent0 GROUP BY cell),
          |assign AS (
          |  SELECT vec_id, embedding, cell FROM (
          |    SELECT e.vec_id, e.embedding, c.cell,
          |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
          |             list_sum(list_transform(range(1, 65),
          |               i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]) *
          |                    (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]))), c.cell) AS rn
          |    FROM embeddings e CROSS JOIN cent c)
          |  WHERE rn = 1),
          |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
          |      WHERE vec_id % 100 = 0),
          |probes AS (
          |  SELECT q_id, q_vec, cell FROM (
          |    SELECT q.q_id, q.q_vec, c.cell,
          |           row_number() OVER (PARTITION BY q.q_id ORDER BY
          |             list_sum(list_transform(range(1, 65),
          |               i -> (CAST(q.q_vec[i] AS DOUBLE) - c.cent_vec[i]) *
          |                    (CAST(q.q_vec[i] AS DOUBLE) - c.cent_vec[i]))), c.cell) AS rn
          |    FROM q CROSS JOIN cent c)
          |  WHERE rn <= 3),
          |cand AS (
          |  SELECT p.q_id, a.vec_id,
          |    list_sum(list_transform(range(1, 65),
          |      i -> CAST(p.q_vec[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) /
          |    (sqrt(list_sum(list_transform(range(1, 65),
          |      i -> CAST(p.q_vec[i] AS DOUBLE) * CAST(p.q_vec[i] AS DOUBLE)))) *
          |     sqrt(list_sum(list_transform(range(1, 65),
          |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))) AS cos_sim
          |  FROM assign a JOIN probes p ON a.cell = p.cell
          |  WHERE a.vec_id <> p.q_id)
          |SELECT query_id, neighbor_id, rank FROM (
          |  SELECT q_id AS query_id, vec_id AS neighbor_id,
          |         row_number() OVER (PARTITION BY q_id
          |                            ORDER BY cos_sim DESC, vec_id) AS rank
          |  FROM cand)
          |WHERE rank <= 3
          |ORDER BY query_id, rank""".stripMargin)),

    Q("ss5_ivfpq_topk",
      "IVF-PQ approximate top-3 (Jégou et al., TPAMI 2011 — the FAISS " +
        "production ANN shape) re-expressed relationally: each vector " +
        "compressed to M=8 one-byte codes (nearest codeword per 8-dim " +
        "subspace; codebooks = a real per-subspace Lloyd k-means, " +
        "16 codewords each, trained on the 256 md5-smallest vectors — " +
        "FAISS practice: the training sample is FIXED-SIZE however " +
        "large the corpus, so the fit's collect is bounded by " +
        "construction; codewords inline as trunc-6 literals, the x11 " +
        "centroids-as-literals move), queries probe the 3 nearest IVF " +
        "cells, and ranking is ASYMMETRIC DISTANCE COMPUTATION: a " +
        "per-query broadcast lookup table of query-subvector <-> " +
        "codeword distances, joined to candidate CODES on (m, cid) " +
        "and summed in FIXED subspace order (a plain sum over the 8 " +
        "partials would be agg-order-nondeterministic in the last " +
        "ulp). The original vectors are never read after encoding — " +
        "the 32x storage compression (8 bytes vs 64 floats) IS the " +
        "100 TB story: the scan that feeds ranking is over codes. " +
        "ORACLE replays codebooks, encoding argmins, probes, LUT and " +
        "the ADC sum exactly; PQ recall vs brute force asserted in " +
        "LlmSpec.",
      (s, d) => {
        val M = PqM; val subDim = PqSubDim
        val emb = Tables.embeddings(s, d)
        import s.implicits._
        val codebook = trainedPqCodebooks(s, d)
          .map { case (m0, cid, v) => (m0, cid, v.toSeq) }
          .toDF("pq_m", "pq_cid", "pq_vec")
        // IVF cells = the label partition (ss2 demonstrates the learned
        // assignment; the probe still ranks full-dim centroid distances)
        val centroids = labelCentroids(emb)
        val codes = Similarity.pqEncode(
          emb.withColumn("cell", col("label")),
          "vec_id", "embedding", codebook, M, subDim, carry = Seq("cell"))
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.ivfPqTopK(codes, "vec_id", "cell", codebook,
            centroids, "cent_vec", queries, "q_id", "q_vec",
            M, subDim, nProbe = PqNProbe, k = 3)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.t6(col("approx_dist")).as("approx_dist"), col("rank"))
          .orderBy("query_id", "rank")
      },
      ss5OracleSql),


    Q("ss3_hyperplane_lsh_topk",
      "Hyperplane-LSH approximate top-3: sign-random-projection " +
        "buckets (3 tables x 8 bits, seeded), union-of-tables probe, " +
        "exact cosine inside candidates — the data-independent ANN " +
        "path beside ss2's trained IVF. Recall vs brute force " +
        "asserted in LlmSpec.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.hyperplaneTopK(emb, "vec_id", "embedding",
          queries, "q_id", "q_vec", dim = 64, tables = 3, bits = 8, k = 3)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(ss3OracleSql)),

    Q("ss4_bm25_topk",
      "Okapi BM25 keyword search top-10 (Robertson & Zaragoza 2009) — " +
        "the lexical-retrieval counterpart to the ss1-ss3 embedding " +
        "family: query terms of mixed rarity (hash/join common, dup " +
        "rare), Lucene idf, k1=1.2 b=0.75. The posting fragment is " +
        "filtered to the query terms before any shuffle; doc lengths " +
        "join shuffle-hash; stats/df broadcast; top-k is a TakeOrdered.",
      (s, d) => {
        Search.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          queryTerms = Seq("hash", "join", "dup"), k = 10,
          scoreTrunc = Fmt.t6, avglenTrunc = Fmt.t6)
          .orderBy("rank")
      },
      Some(
        """WITH ws AS (
          |  SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
          |  FROM documents),
          |lens AS (SELECT doc_id, len(ws) AS l FROM ws),
          |stats AS (
          |  SELECT count(*) AS n,
          |         floor((avg(l)) * 1e6 + 1e-6) / 1e6 AS avglen
          |  FROM lens),
          |tf AS (
          |  SELECT doc_id, w, count(*) AS tf FROM (
          |    SELECT doc_id, unnest(ws) AS w FROM ws)
          |  WHERE w IN ('hash', 'join', 'dup')
          |  GROUP BY doc_id, w),
          |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
          |scored AS (
          |  SELECT tf.doc_id,
          |         floor((sum(
          |           ln((n - df + 0.5) / (df + 0.5) + 1.0) *
          |           (tf * (1.2 + 1.0)) /
          |           (tf + 1.2 * (1.0 - 0.75 + 0.75 * l / avglen))
          |         )) * 1e6 + 1e-6) / 1e6 AS score,
          |         count(*) AS n_terms_matched
          |  FROM tf
          |  JOIN dfreq USING (w)
          |  JOIN lens ON lens.doc_id = tf.doc_id
          |  CROSS JOIN stats
          |  GROUP BY tf.doc_id)
          |SELECT rank, doc_id, score, n_terms_matched FROM (
          |  SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank, *
          |  FROM scored)
          |WHERE rank <= 10
          |ORDER BY rank""".stripMargin)),

    Q("ss6_int8_quantized_topk",
      "Int8 scalar-quantized cosine top-5 — the 4x-smaller embedding " +
        "STORAGE path (one tinyint per component + one float scale " +
        "per vector; at 100 TB the scan-volume cut is the feature, " +
        "orthogonal to ss5's PQ codebooks): per-vector symmetric " +
        "max-abs/127 scale, floor(x/s + 0.5) round-half-up (the " +
        "explicit form both engines compute identically — round() " +
        "diverges on binary-edge halves), components PROVEN tinyint " +
        "in the plan's schema. Scoring needs NO dequantization: the " +
        "two scales cancel in cosine, leaving integer dot and norms — " +
        "exact in any aggregation order — so the approximate " +
        "similarity is bit-reproducible and fully hash-oracled. " +
        "Same broadcast brute-force topology as ss1 (LlmSpec pins " +
        "recall vs the exact top-5 on this corpus).",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        def quant(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("__s", Similarity.int8Scale(col("embedding")))
          .withColumn("q8",
            Similarity.int8Quantize(col("embedding"), col("__s")))
          .withColumn("qv", Similarity.int8AsDouble(col("q8")))
        val corpus = quant(emb).select(col("vec_id"), col("qv"))
        val queries = quant(emb.filter(col("vec_id") % 100 === 0))
          .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
        Similarity.bruteForceTopK(corpus, "vec_id", "qv",
            queries, "q_id", "q_qv", 5)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim_q"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(
        """WITH qz AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x ->
          |      CASE WHEN s > 0 THEN floor(CAST(x AS DOUBLE) / s + 0.5)
          |           ELSE 0.0 END) AS qv
          |  FROM (SELECT vec_id, embedding,
          |          list_max(list_transform(embedding,
          |            x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
          |        FROM embeddings)),
          |q AS (SELECT vec_id AS q_id, qv AS q_qv FROM qz WHERE vec_id % 100 = 0),
          |scored AS (
          |  SELECT q.q_id, e.vec_id,
          |    list_sum(list_transform(range(1, 65), i -> q.q_qv[i] * e.qv[i])) /
          |    (sqrt(list_sum(list_transform(range(1, 65), i -> q.q_qv[i] * q.q_qv[i]))) *
          |     sqrt(list_sum(list_transform(range(1, 65), i -> e.qv[i] * e.qv[i])))) AS cos_sim
          |  FROM qz e CROSS JOIN q
          |  WHERE e.vec_id <> q.q_id),
          |ranked AS (
          |  SELECT q_id AS query_id, vec_id AS neighbor_id,
          |         floor((cos_sim) * 1e4 + 1e-6) / 1e4 AS cos_sim_q,
          |         row_number() OVER (PARTITION BY q_id
          |                            ORDER BY cos_sim DESC, vec_id) AS rank
          |  FROM scored)
          |SELECT * FROM ranked WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)),

    Q("ss7_int8_refine_topk",
      "Int8-coarse -> exact-refine top-5 (r12 verdict ask #3: ss6's " +
        "storage path COMPOSED with the ANN family): candidate " +
        "generation ranks by quantized cosine over the int8 corpus — " +
        "the only corpus-wide scan, at 4x fewer bytes than float32 " +
        "(the 100 TB feature; ss6 measured the parquet at <= 40%) — " +
        "takes a 20-deep shortlist per query, then re-scores just " +
        "those pairs with exact float cosine via a keyed point-lookup " +
        "join (pqRefineTopK's topology: touches |queries| x 20 float " +
        "vectors, never the corpus). Both stages' arithmetic is " +
        "deterministic (integer dot in the coarse pass, sequential " +
        "double folds in the refine), so the full chain is " +
        "hash-oracled: the oracle restates ss6's quantized ranking " +
        "fragment at depth 20 and ss1's exact-cosine fragment over " +
        "the shortlist. LlmSpec pins recall@5 vs brute force >= the " +
        "pure-quantized ss6 ranking's recall.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.int8RefineTopK(emb, "vec_id", "embedding",
            queries, "q_id", "q_vec", shortlist = 20, k = 5)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(ss7OracleSql)),

    Q("ss9_int8_persisted_topk",
      "The STORED-table ANN path (r13 verdict ask #1 — ss6's storage " +
        "claim made real): the quantized corpus is written ONCE to " +
        "parquet as (vec_id, q8 ARRAY<TINYINT>, scale FLOAT) — the " +
        "4x-smaller stored bytes ss6 measured — and ss7's coarse pass " +
        "READS that table: the coarse scan's ReadSchema carries " +
        "vec_id + the tinyint array and NOTHING else (scale pruned, " +
        "no float column — the plan file pins it), while the float " +
        "corpus is touched only by the refine join's |queries| x 20 " +
        "keyed point-lookups. int8Quantize is deterministic and " +
        "tinyint survives parquet exactly, so the chain is " +
        "hash-identical to ss7's in-session quantization — PROVEN by " +
        "sharing ss7's oracle verbatim (the dd11 persisted-signature " +
        "precedent). At 100 TB this is the production serving shape: " +
        "scan envelope = the stored int8 bytes, floats point-read " +
        "only.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val stored = s.read.parquet(persistedInt8Dir(s, d))
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.int8RefineTopKStored(stored, "vec_id", "q8",
            emb.select("vec_id", "embedding"), "embedding",
            queries, "q_id", "q_vec", shortlist = 20, k = 5)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(ss7OracleSql)),

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

    Q("ss12_int8_planned_topk",
      "ss9's stored-table serving at the PLANNER'S depth (r14 verdict " +
        "ask #5 — int8ShortlistFor proven end-to-end in the registry, " +
        "not just in bench_scale): the shortlist literal is " +
        "plannedShortlist's output — the smallest depth whose " +
        "measured true-neighbor rank CDF (bounded md5 workload " +
        "sample, the r14 negative control's workload-not-corpus " +
        "signature) meets recall target 0.95 — instead of ss7/ss9's " +
        "hard-coded 20. The plan is deterministic (md5 sample, " +
        "integer quantized scores, id tiebreaks), so the generated " +
        "oracle inlines the SAME planned depth as a literal (the ss5 " +
        "share-the-fit pattern) and the hash match proves plan and " +
        "serving agree. Coarse pass reads the persisted tinyint " +
        "table; floats point-read at refine (ss9's scan envelope).",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val stored = s.read.parquet(persistedInt8Dir(s, d))
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.int8RefineTopKStored(stored, "vec_id", "q8",
            emb.select("vec_id", "embedding"), "embedding",
            queries, "q_id", "q_vec",
            shortlist = plannedShortlist(s, d), k = PlannedK)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Tables.withPrimedSession("ss12")((s, d) =>
        ss7ChainSql("SELECT vec_id, embedding FROM embeddings",
          "vec_id % 100 = 0",
          depth = plannedShortlist(s, d), k = PlannedK))),

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
    ) ++ allTail

  /** ss7's full-chain restatement parameterized over the corpus CTE
    * and the query predicate — ss7/ss9/st15 instantiate it over the
    * base `embeddings` table; st17 over the GROWN corpus (base plus
    * both planted arrival batches) with queries still drawn from the
    * base. One template, so the serving arithmetic cannot drift
    * between the static and grown forms. */
  private def ss7ChainSql(corpusSql: String, queryPred: String,
                          depth: Int = 20, k: Int = 5): String =
        s"""WITH allv AS (
          |  $corpusSql),
          |qz AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x ->
          |      CASE WHEN s > 0 THEN floor(CAST(x AS DOUBLE) / s + 0.5)
          |           ELSE 0.0 END) AS qv
          |  FROM (SELECT vec_id, embedding,
          |          list_max(list_transform(embedding,
          |            x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
          |        FROM allv)),
          |q8 AS (SELECT vec_id AS q_id, qv AS q_qv FROM qz WHERE $queryPred),
          |coarse AS (
          |  SELECT q_id, vec_id FROM (
          |    SELECT q.q_id, e.vec_id,
          |      row_number() OVER (PARTITION BY q.q_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> q.q_qv[i] * e.qv[i])) /
          |        (sqrt(list_sum(list_transform(range(1, 65), i -> q.q_qv[i] * q.q_qv[i]))) *
          |         sqrt(list_sum(list_transform(range(1, 65), i -> e.qv[i] * e.qv[i]))))
          |        DESC, e.vec_id) AS crank
          |    FROM qz e CROSS JOIN q8 q
          |    WHERE e.vec_id <> q.q_id)
          |  WHERE crank <= $depth),
          |qf AS (SELECT vec_id AS q_id, embedding AS q_vec FROM allv
          |       WHERE $queryPred),
          |ref AS (
          |  SELECT c.q_id, c.vec_id,
          |    list_sum(list_transform(range(1, len(e.embedding) + 1),
          |      i -> CAST(qf.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
          |    (sqrt(list_sum(list_transform(range(1, len(qf.q_vec) + 1),
          |      i -> CAST(qf.q_vec[i] AS DOUBLE) * CAST(qf.q_vec[i] AS DOUBLE)))) *
          |     sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
          |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos_sim
          |  FROM coarse c
          |  JOIN allv e ON c.vec_id = e.vec_id
          |  JOIN qf ON c.q_id = qf.q_id),
          |ranked AS (
          |  SELECT q_id AS query_id, vec_id AS neighbor_id,
          |         floor((cos_sim) * 1e4 + 1e-6) / 1e4 AS cos_sim,
          |         row_number() OVER (PARTITION BY q_id
          |                            ORDER BY cos_sim DESC, vec_id) AS rank
          |  FROM ref)
          |SELECT * FROM ranked WHERE rank <= $k
          |ORDER BY query_id, rank""".stripMargin

  /** ss7's full-chain restatement, shared verbatim by st15 (the
    * streamed serving form must reproduce the batch answer exactly). */
  private val ss7OracleSql: String =
    ss7ChainSql("SELECT vec_id, embedding FROM embeddings", "vec_id % 100 = 0")

  /** The WORKLOAD-PLANNED shortlist depth, planned once per dir (ss12 — r14
    * verdict ask #5: int8ShortlistFor was tooling-only; this wires the
    * planner into a SERVED query). The plan measures the true-neighbor
    * quantized-rank CDF on a bounded md5 sample OF THE QUERY WORKLOAD
    * (the r14 negative control: corpus-row sampling under-planned 4×)
    * and takes the smallest depth whose measured recall meets the
    * target — deterministic end to end (md5 sample, integer quantized
    * scores, id tiebreaks), so the planned depth is a pure function of
    * (data dir, constants) and the generated oracle can inline it as a
    * literal (the ss5 share-the-fit pattern). */
  private[graft] val PlannedK = 5
  private[graft] val PlannedTarget = 0.95
  private[graft] val PlannedSampleN = 8
  private[graft] def plannedShortlist(s: SparkSession, d: String): Int =
    Artifacts.get(Artifacts.Jvm, d, "planned_shortlist") { _ =>
      val emb = Tables.embeddings(s, d)
      val workload = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val ranks = Similarity.int8TrueNeighborRanks(emb, "vec_id", "embedding",
        workload, "q_id", "q_vec", PlannedK, PlannedSampleN)
      Similarity.int8ShortlistFor(ranks, PlannedK, PlannedTarget)
    }

  /** ss8's full-chain restatement, shared verbatim by ss10 (serving
    * from the persisted IVF index must reproduce the in-session-index
    * answer exactly — the storage-roundtrip hash proof). */
  private val ss8OracleSql: String =
        """WITH cent0 AS (
          |  SELECT label AS cell, idx.i AS i,
          |         floor(avg(CAST(embedding[idx.i] AS DOUBLE)) * 1e6 + 1e-6) / 1e6 AS c
          |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx
          |  GROUP BY label, idx.i),
          |cent AS (SELECT cell, list(c ORDER BY i) AS cent_vec FROM cent0 GROUP BY cell),
          |assign AS (
          |  SELECT vec_id, cell FROM (
          |    SELECT e.vec_id, c.cell,
          |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
          |             list_sum(list_transform(range(1, 65),
          |               i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]) *
          |                    (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]))), c.cell) AS rn
          |    FROM embeddings e CROSS JOIN cent c)
          |  WHERE rn = 1),
          |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
          |      WHERE vec_id % 100 = 0),
          |probes AS (
          |  SELECT q_id, cell FROM (
          |    SELECT q.q_id, c.cell,
          |           row_number() OVER (PARTITION BY q.q_id ORDER BY
          |             list_sum(list_transform(range(1, 65),
          |               i -> (CAST(q.q_vec[i] AS DOUBLE) - c.cent_vec[i]) *
          |                    (CAST(q.q_vec[i] AS DOUBLE) - c.cent_vec[i]))), c.cell) AS rn
          |    FROM q CROSS JOIN cent c)
          |  WHERE rn <= 3),
          |qz AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x ->
          |      CASE WHEN s > 0 THEN floor(CAST(x AS DOUBLE) / s + 0.5)
          |           ELSE 0.0 END) AS qv
          |  FROM (SELECT vec_id, embedding,
          |          list_max(list_transform(embedding,
          |            x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
          |        FROM embeddings)),
          |q8 AS (SELECT vec_id AS q_id, qv AS q_qv FROM qz WHERE vec_id % 100 = 0),
          |coarse AS (
          |  SELECT q_id, vec_id FROM (
          |    SELECT p.q_id, a.vec_id,
          |      row_number() OVER (PARTITION BY p.q_id ORDER BY
          |        list_sum(list_transform(range(1, 65), i -> q8.q_qv[i] * e.qv[i])) /
          |        (sqrt(list_sum(list_transform(range(1, 65), i -> q8.q_qv[i] * q8.q_qv[i]))) *
          |         sqrt(list_sum(list_transform(range(1, 65), i -> e.qv[i] * e.qv[i]))))
          |        DESC, a.vec_id) AS crank
          |    FROM assign a
          |    JOIN probes p ON a.cell = p.cell
          |    JOIN qz e ON a.vec_id = e.vec_id
          |    JOIN q8 ON p.q_id = q8.q_id
          |    WHERE a.vec_id <> p.q_id)
          |  WHERE crank <= 12),
          |ref AS (
          |  SELECT c.q_id, c.vec_id,
          |    list_sum(list_transform(range(1, len(e.embedding) + 1),
          |      i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
          |    (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
          |      i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)))) *
          |     sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
          |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos_sim
          |  FROM coarse c
          |  JOIN embeddings e ON c.vec_id = e.vec_id
          |  JOIN q ON c.q_id = q.q_id),
          |ranked AS (
          |  SELECT q_id AS query_id, vec_id AS neighbor_id,
          |         floor((cos_sim) * 1e4 + 1e-6) / 1e4 AS cos_sim,
          |         row_number() OVER (PARTITION BY q_id
          |                            ORDER BY cos_sim DESC, vec_id) AS rank
          |  FROM ref)
          |SELECT * FROM ranked WHERE rank <= 3
          |ORDER BY query_id, rank""".stripMargin

  // lazy: `all` is initialized first in declaration order and
  // concatenates this — a strict val would still be null at that point
  private lazy val allTail: Seq[Q] = Seq(
    Q("ss8_ivf_int8_topk",
      "IVF x int8 -> exact-refine top-3: ss2's cell pruning COMPOSED " +
        "with ss7's quantized candidate generation — the two " +
        "scan-volume levers multiply (probe 3 of the cells x one " +
        "quarter of the bytes in each; ss6 measured the parquet " +
        "ratio). Cell selection is ss2's EXACT rule (float query vs " +
        "truncated-mean centroids), so the composition changes what is " +
        "scanned inside a cell, never which cells; within the probed " +
        "cells a 12-deep shortlist ranks by quantized cosine (integer " +
        "dot, per-vector scales cancel), then only those pairs " +
        "re-score with exact float cosine. Every stage deterministic " +
        "-> the full chain is hash-oracled: the oracle restates ss2's " +
        "cent/assign/probe fragments, ss7's quantization fragment " +
        "within the probed cells, and ss7's refine arithmetic. LlmSpec " +
        "pins recall@3 vs the exact-within-cells ss2 ranking. The " +
        "in-session index (centroid fit + cell assignment + " +
        "quantization) builds ONCE as a cached session artifact (r15 " +
        "verdict ask #6, the llm4/x15 fit-once-score-many precedent): " +
        "repeated runs price the SERVE, not a per-run index rebuild — " +
        "the build-from-nothing and stored-table costs are ss2/ss7's " +
        "and ss10's rows respectively.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val centroids = Artifacts.frame(s, d, "ss8_centroids")(labelCentroids(emb))
        val cellQuant = Artifacts.frame(s, d, "ss8_cell_quant")(
          Similarity.assignCells(emb, "vec_id", "embedding",
              centroids, "cell", "cent_vec")
            .select(col("vec_id"), col("cell"),
              Similarity.int8Quantize(col("embedding"),
                Similarity.int8Scale(col("embedding"))).as("q8")))
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.ivfInt8RefineTopKStored(cellQuant, "vec_id", "q8", "cell",
            centroids, "cent_vec",
            emb.select("vec_id", "embedding"), "embedding",
            queries, "q_id", "q_vec",
            nProbe = 3, shortlist = 12, k = 3)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(ss8OracleSql)),

    Q("ss10_ivf_persisted_topk",
      "The STORED-INDEX ANN serving path (r14 verdict ask #2 — ss9 " +
        "persisted the vectors; this persists the IVF INDEX and " +
        "serves from it): the inverted file (vec_id, cell, " +
        "q8 ARRAY<TINYINT>) and the (cell, centroid) table are " +
        "written ONCE to parquet — persistedIvfDir, the write-once-" +
        "read-forever shape — and ss8's whole candidate generation " +
        "READS them: probes rank the float query against the STORED " +
        "truncated centroids (broadcast-tiny), the coarse pass scans " +
        "ONLY the stored inverted file (ReadSchema = vec_id + cell + " +
        "the tinyint array, no float column — the plan file pins it; " +
        "at 100 TB cell is the storage partitioning key, so the probe " +
        "prunes partitions at the source and the scanned bytes are " +
        "nProbe/nCells of a 4x-smaller corpus), and floats are " +
        "touched only by the refine join's |queries| x 12 keyed " +
        "point-lookups. Cell assignment and quantization survive the " +
        "parquet roundtrip exactly (truncated doubles, tinyint), so " +
        "serving from the stored index is hash-identical to ss8's " +
        "in-session index — PROVEN by sharing ss8's oracle verbatim " +
        "(the ss9/dd11 precedent, now for the index itself).",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ivf = persistedIvfDir(s, d)
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val cents = s.read.parquet(s"$ivf/centroids")
        // serve-side STATIC partition pruning: the probe list becomes
        // literal PartitionFilters on the cell-partitioned store, so
        // the coarse scan lists only probed-cell directories — see
        // Similarity.probedCellSet for why static beats DPP here
        val probed = Similarity.probedCellSet(queries, "q_id", "q_vec",
          cents, "cent_vec", "cell", nProbe = 3)
        Similarity.ivfInt8RefineTopKStored(
            s.read.parquet(s"$ivf/cells")
              .filter(col("cell").isin(probed: _*)),
            "vec_id", "q8", "cell",
            cents, "cent_vec",
            emb.select("vec_id", "embedding"), "embedding",
            queries, "q_id", "q_vec", nProbe = 3, shortlist = 12, k = 3)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.trunc(col("cos_sim"), 4).as("cos_sim"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(ss8OracleSql)),

    Q("ss11_ivfpq_persisted_topk",
      "IVF-PQ serving from the STORED index (the ss10 move for the " +
        "PQ family): the (vec_id, cell, pq_m, pq_cid) CODES table, " +
        "the trained codebook and the centroid table are read from " +
        "persistedIvfDir's write-once parquet — candidate ranking is " +
        "ss5's asymmetric distance computation over STORED codes " +
        "(~M bytes/vector, the 32x compression), with the original " +
        "float vectors never read at all after the probe (ADC needs " +
        "only codes + the broadcast LUT). Codes are ints and " +
        "codebooks trunc-6 doubles — roundtrip-exact — so the stored " +
        "index serves hash-identically to ss5's in-session encoding: " +
        "PROVEN by sharing ss5's generated oracle verbatim.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ivf = persistedIvfDir(s, d)
        val queries = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val cents = s.read.parquet(s"$ivf/centroids")
        // same serve-side static prune as ss10, on the codes store
        val probed = Similarity.probedCellSet(queries, "q_id", "q_vec",
          cents, "cent_vec", "cell", nProbe = PqNProbe)
        Similarity.ivfPqTopK(
            s.read.parquet(s"$ivf/codes")
              .filter(col("cell").isin(probed: _*)),
            "vec_id", "cell",
            s.read.parquet(s"$ivf/codebook"),
            cents, "cent_vec",
            queries, "q_id", "q_vec",
            PqM, PqSubDim, nProbe = PqNProbe, k = 3)
          .select(col("query_id"), col("neighbor_id"),
            Fmt.t6(col("approx_dist")).as("approx_dist"), col("rank"))
          .orderBy("query_id", "rank")
      },
      ss5OracleSql),

    Q("tx1_token_stats",
      "Per-document token statistics: whitespace words, BPE-ish regex " +
        "tokens, mean word length, punctuation ratio — the map-stage " +
        "text profile.",
      (s, d) => {
        val ws = TextOps.words(col("text"))
        Tables.documents(s, d).select(
          col("doc_id"),
          length(col("text")).as("n_chars_m"),
          size(ws).as("n_words"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          Fmt.trunc(TextOps.meanWordLen(ws), 6).as("mean_word_len"),
          Fmt.trunc(TextOps.punctRatio(col("text")), 6).as("punct_ratio"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CAST(len(text) AS INT) AS n_chars_m,
          |  CAST(len(ws) AS INT) AS n_words,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS INT) AS n_tokens,
          |  floor((CAST(list_sum(list_transform(ws, w -> CAST(len(w) AS BIGINT))) AS DOUBLE) / len(ws)) * 1e6 + 1e-6) / 1e6 AS mean_word_len,
          |  floor((CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / len(text)) * 1e6 + 1e-6) / 1e6 AS punct_ratio
          |FROM (SELECT doc_id, text, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
          |      FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    Q("tx2_quality_langid",
      "Quality scoring (length/punct/stopword bands) + stopword-profile " +
        "language ID with deterministic argmax — the corpus-filter pair.",
      (s, d) => {
        val ws = TextOps.words(col("text"))
        Tables.documents(s, d)
          .withColumn("ws", ws)
          .select(
            col("doc_id"),
            Fmt.trunc(TextOps.stopwordRatio(col("ws"), TextOps.StopEn), 6).as("stop_ratio_en"),
            Fmt.trunc(TextOps.qualityScore(col("text"), col("ws")), 6).as("quality"),
            TextOps.langId(col("ws")).as("lang_pred"),
            col("lang").as("lang_labeled"))
          .orderBy("doc_id")
      },
      Some {
        val en = stopHitsSql(TextOps.StopEn)
        s"""SELECT doc_id,
           |  floor((CAST($en AS DOUBLE) / len(ws)) * 1e6 + 1e-6) / 1e6 AS stop_ratio_en,
           |  $qualitySqlExpr AS quality,
           |  $langPredSqlExpr AS lang_pred,
           |  lang AS lang_labeled
           |FROM (SELECT doc_id, text, lang, string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),

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

    Q("tx3_fingerprint",
      "Order-sensitive rolling-hash document fingerprint (mod 1e9+7) — " +
        "reorder-detecting content identity, fold mirrored in SQL.",
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          TextOps.fingerprint(col("text")).as("fingerprint"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  list_reduce(
          |    list_concat([CAST(0 AS BIGINT)],
          |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
          |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
          |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("tx7_redact_pii",
      "PII scrubbing (safety-filter curation): plant deterministic " +
        "emails/URLs/phones into each doc (same concat on both " +
        "engines), then redact to typed placeholders and count " +
        "matches — the regex subset Java and RE2 evaluate identically, " +
        "so the redacted TEXT itself is hash-oracled, not just counts. " +
        "Map-only codegen stage.",
      (s, d) => {
        val planted = Tables.documents(s, d).select(
          col("doc_id"),
          concat_ws(" ", col("text"),
            concat(lit("contact user"), col("doc_id"), lit("@mail.example.org")),
            concat(lit("see https://data.example.org/d/"), col("doc_id"), lit("?k=v")),
            concat(lit("tel 02-"), lpad((col("doc_id") % 9000 + 1000).cast("string"), 4, "0"),
              lit("-"), lpad((col("doc_id") % 900 + 100).cast("string"), 3, "0"))).as("text"))
        planted.select(
          col("doc_id"),
          TextOps.piiCount(col("text"), TextOps.EmailRe).as("n_emails"),
          TextOps.piiCount(col("text"), TextOps.UrlRe).as("n_urls"),
          TextOps.piiCount(col("text"), TextOps.PhoneRe).as("n_phones"),
          TextOps.redactPii(col("text")).as("redacted"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
          |  CAST(len(regexp_extract_all(text, 'https?://[^ \t\n\x0B\f\r]+')) AS INT) AS n_urls,
          |  CAST(len(regexp_extract_all(text, '\b[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}\b')) AS INT) AS n_phones,
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |      'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
          |    '\b[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}\b', '<PHONE>', 'g') AS redacted
          |FROM (
          |  SELECT doc_id,
          |         concat_ws(' ', text,
          |           'contact user' || doc_id || '@mail.example.org',
          |           'see https://data.example.org/d/' || doc_id || '?k=v',
          |           'tel 02-' || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0') ||
          |             '-' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')) AS text
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    Q("tx8_repetition_filter",
      "Gopher-style repetition quality rules (Rae et al. 2021 §A1.1 — " +
        "the C4/web-corpus filter family beyond simple length bands): " +
        "per-doc duplicate-word fraction, most-frequent-word fraction " +
        "and most-frequent-2-gram fraction, plus the keep decision at " +
        "thresholds (0.55 / 0.11 / 0.06) that split this corpus ~24% " +
        "keep. The keep comparison runs on the UNtruncated fractions — " +
        "pure integer-ratio doubles, bit-identical cross-engine. Scale " +
        "shape: explode + two-level keyed aggregation per token class " +
        "(the dd9 pattern) — shuffles keyed on (doc_id, token), no " +
        "per-doc state, no collect; the line-level Gopher rules are " +
        "structurally identical and omitted only because the corpus " +
        "is single-line.",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
          .withColumn("n_words", size(col("ws")))
        // the (doc_id, w) count groups ARE the distinct words — read
        // n_distinct off the same aggregation instead of a second
        // array_distinct pass over every document
        val topw = base.select(col("doc_id"), explode(col("ws")).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(max("c").as("top_w"),
            count(lit(1)).as("n_distinct"))
        val topg = base.select(col("doc_id"),
            explode(TextOps.wordShingles(col("ws"), 2)).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(max("c").as("top_g"))
        val nW = col("n_words").cast("double")
        val dup = (nW - col("n_distinct")) / nW
        val topWF = col("top_w") / nW
        val topGF = coalesce(col("top_g") / (nW - 1.0), lit(0.0))
        base.join(topw, Seq("doc_id"))
          .join(topg, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            col("n_words").cast("long").as("n_words"),
            Fmt.t6(dup).as("dup_word_frac"),
            Fmt.t6(topWF).as("top_word_frac"),
            Fmt.t6(topGF).as("top_2gram_frac"),
            (dup <= 0.55 && topWF <= 0.11 && topGF <= 0.06).as("keep"))
          .orderBy("doc_id")
      },
      Some(
        """WITH rbase AS (
          |  SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws FROM documents),
          |rstats AS (
          |  SELECT doc_id, len(ws) AS n_words FROM rbase),
          |rtopw AS (
          |  SELECT doc_id, max(c) AS top_w, count(*) AS n_distinct FROM (
          |    SELECT doc_id, w, count(*) AS c
          |    FROM (SELECT doc_id, unnest(ws) AS w FROM rbase)
          |    GROUP BY doc_id, w)
          |  GROUP BY doc_id),
          |rtopg AS (
          |  SELECT doc_id, max(c) AS top_g FROM (
          |    SELECT doc_id, g, count(*) AS c
          |    FROM (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
          |        THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
          |        ELSE [] END) AS g FROM rbase)
          |    GROUP BY doc_id, g)
          |  GROUP BY doc_id),
          |rfracs AS (
          |  SELECT s.doc_id, s.n_words,
          |         (CAST(s.n_words AS DOUBLE) - w.n_distinct) / CAST(s.n_words AS DOUBLE) AS dup_f,
          |         CAST(w.top_w AS DOUBLE) / CAST(s.n_words AS DOUBLE) AS topw_f,
          |         coalesce(CAST(g.top_g AS DOUBLE) / (CAST(s.n_words AS DOUBLE) - 1.0), 0.0) AS topg_f
          |  FROM rstats s
          |  JOIN rtopw w USING (doc_id)
          |  LEFT JOIN rtopg g USING (doc_id))
          |SELECT doc_id, n_words,
          |       floor((dup_f) * 1e6 + 1e-6) / 1e6 AS dup_word_frac,
          |       floor((topw_f) * 1e6 + 1e-6) / 1e6 AS top_word_frac,
          |       floor((topg_f) * 1e6 + 1e-6) / 1e6 AS top_2gram_frac,
          |       (dup_f <= 0.55 AND topw_f <= 0.11 AND topg_f <= 0.06) AS keep
          |FROM rfracs ORDER BY doc_id""".stripMargin)),

    Q("tx20_gopher_quality",
      "Gopher's quality-filter rule set (Rae et al. 2021 Appendix A " +
        "§A1.1) — the companion to tx8's repetition rules, completing " +
        "the Gopher filter: word count in [50, 100k], mean word " +
        "length in [3, 10], hash-to-word ratio <= 0.1 AND ellipsis-" +
        "to-word ratio <= 0.1 (two SEPARATE thresholds, per §A1.1's " +
        "'either ... or' — not one combined symbol ratio), <= 90% of " +
        "lines bullet-started, <= 30% ellipsis-ended, " +
        ">= 80% of words with an alphabetic character, and >= 2 of " +
        "the 8 required stop words. Pages are synthesized multi-line " +
        "(the tx17 move) so every line rule gets planted hits: a " +
        "bullet line on every 3rd page, an ellipsis line on every " +
        "4th, a dash bullet on every 7th, a '#' tag line on every " +
        "9th — and the non-planted filler lines carry required stop " +
        "words, so the stop-word and word-count rules split the " +
        "corpus instead of failing it wholesale (zh pages still die " +
        "on the alphabetic-word rule — every rule fires both ways). " +
        "Keep decisions compare UNtruncated fractions (pure " +
        "integer-ratio doubles, bit-identical cross-engine). Zero " +
        "shuffle — one codegen'd map stage at scan throughput.",
      (s, d) => {
        val page = concat_ws("\n",
          col("text"),
          when(col("doc_id") % 3 === 0, lit("• bullet item one"))
            .otherwise(lit("the rest of the body text continues.")),
          when(col("doc_id") % 4 === 0, lit("trailing thought..."))
            .otherwise(lit("that would have to be enough.")),
          when(col("doc_id") % 7 === 0, lit("- another bullet"))
            .otherwise(when(col("doc_id") % 9 === 0,
              lit("#tag #more #tags here."))
              .otherwise(lit("more body text follows."))))
        val nW = col("n_words").cast("double")
        val meanWl = col("sum_wl").cast("double") / nW
        val keep = col("n_words").between(50, 100000) &&
          meanWl >= 3.0 && meanWl <= 10.0 &&
          col("hash_ratio") <= 0.1 && col("ellipsis_ratio") <= 0.1 &&
          col("bullet_frac") <= 0.9 && col("ellipsis_frac") <= 0.3 &&
          col("alpha_frac") >= 0.8 && col("stop_hits") >= 2
        Tables.documents(s, d)
          .select(col("doc_id"), page.as("page"))
          .withColumn("ws", TextOps.words(col("page")))
          .select(
            col("doc_id"),
            size(col("ws")).cast("long").as("n_words"),
            aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w))
              .as("sum_wl"),
            TextOps.hashWordRatio(col("page"), col("ws")).as("hash_ratio"),
            TextOps.ellipsisWordRatio(col("page"), col("ws"))
              .as("ellipsis_ratio"),
            TextOps.bulletLineFrac(col("page")).as("bullet_frac"),
            TextOps.ellipsisLineFrac(col("page")).as("ellipsis_frac"),
            TextOps.alphaWordFrac(col("ws")).as("alpha_frac"),
            TextOps.gopherStopHits(col("ws")).cast("int").as("stop_hits"))
          .select(
            col("doc_id"), col("n_words"),
            Fmt.t6(meanWl).as("mean_word_len"),
            Fmt.t6(col("hash_ratio")).as("hash_ratio"),
            Fmt.t6(col("ellipsis_ratio")).as("ellipsis_ratio"),
            Fmt.t6(col("bullet_frac")).as("bullet_frac"),
            Fmt.t6(col("ellipsis_frac")).as("ellipsis_frac"),
            Fmt.t6(col("alpha_frac")).as("alpha_frac"),
            col("stop_hits"),
            keep.as("keep"))
          .orderBy("doc_id")
      },
      Some {
        val stopHits = TextOps.GopherStops
          .map(w => s"CAST(list_contains(ws, '$w') AS INT)").mkString(" + ")
        s"""WITH gp AS (
           |  SELECT doc_id,
           |    text || chr(10) ||
           |    (CASE WHEN doc_id % 3 = 0 THEN '• bullet item one'
           |          ELSE 'the rest of the body text continues.' END) || chr(10) ||
           |    (CASE WHEN doc_id % 4 = 0 THEN 'trailing thought...'
           |          ELSE 'that would have to be enough.' END) || chr(10) ||
           |    (CASE WHEN doc_id % 7 = 0 THEN '- another bullet'
           |          WHEN doc_id % 9 = 0 THEN '#tag #more #tags here.'
           |          ELSE 'more body text follows.' END) AS page
           |  FROM documents),
           |gw AS (
           |  SELECT doc_id, page,
           |    string_split_regex(lower(page), '[ \\t\\n\\x0B\\f\\r]+') AS ws,
           |    string_split(page, chr(10)) AS ls
           |  FROM gp),
           |gm AS (
           |  SELECT doc_id,
           |    len(ws) AS n_words,
           |    CAST(list_reduce(list_transform(ws, w -> length(w)),
           |         (a, b) -> a + b) AS DOUBLE) / len(ws) AS mean_wl,
           |    CAST(length(page) - length(replace(page, '#', '')) AS DOUBLE)
           |      / len(ws) AS hash_ratio,
           |    CAST(len(regexp_extract_all(page, '\\.\\.\\.')) AS DOUBLE)
           |      / len(ws) AS ellipsis_ratio,
           |    CAST(len(list_filter(ls, l -> left(l, 1) = '•'
           |         OR left(l, 2) = '- ')) AS DOUBLE) / len(ls) AS bullet_frac,
           |    CAST(len(list_filter(ls, l -> right(l, 3) = '...')) AS DOUBLE)
           |      / len(ls) AS ellipsis_frac,
           |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
           |      / len(ws) AS alpha_frac,
           |    CAST($stopHits AS INT) AS stop_hits
           |  FROM gw)
           |SELECT doc_id, n_words,
           |  ${Fmt.sql6("mean_wl")} AS mean_word_len,
           |  ${Fmt.sql6("hash_ratio")} AS hash_ratio,
           |  ${Fmt.sql6("ellipsis_ratio")} AS ellipsis_ratio,
           |  ${Fmt.sql6("bullet_frac")} AS bullet_frac,
           |  ${Fmt.sql6("ellipsis_frac")} AS ellipsis_frac,
           |  ${Fmt.sql6("alpha_frac")} AS alpha_frac,
           |  stop_hits,
           |  (n_words BETWEEN 50 AND 100000
           |    AND mean_wl >= 3.0 AND mean_wl <= 10.0
           |    AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
           |    AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
           |    AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
           |FROM gm ORDER BY doc_id""".stripMargin
      }),

    Q("tx21_gopher_repetition",
      "The COMPLETE Gopher repetition-filter table (Rae et al. 2021 " +
        "Table A1, all thirteen metrics; tx8 ships the related " +
        "word-level fractions, which are Gopher-INSPIRED summaries, " +
        "not Table A1 rows): duplicate LINE and PARAGRAPH fractions " +
        "(plain + character-weighted, thresholds " +
        "0.30/0.30/0.20/0.20), top 2/3/4-gram character fractions " +
        "(0.20/0.18/0.16) and duplicated 5..10-gram " +
        "character-COVERAGE fractions (0.15/0.14/0.13/0.12/0.11/" +
        "0.10) — the within-document twin of tx16's span coverage. " +
        "All six coverage orders run in ONE pipeline: the coverage " +
        "test is frame-free (running max of start+n-1 vs position — " +
        "llm/Repetition.dupGramCharFracMulti), so one shared window " +
        "spec serves every n. Pages are synthesized multi-" +
        "paragraph: a nav line three times on every 3rd page (dup " +
        "lines + dup 5-grams), the document body repeated as a " +
        "paragraph on every 5th (dup paragraphs + mass 5/10-gram " +
        "coverage), its first 12 words echoed on every 7th (10-gram " +
        "coverage without a full paragraph dup) — every rule fires " +
        "both ways. Keep compares UNtruncated fractions. All arms " +
        "are (doc_id, unit)-keyed shuffles; nothing is per-document " +
        "state or quadratic in document length.",
      (s, d) => {
        val para2 = when(col("doc_id") % 3 === 0,
          lit("subscribe to the newsletter now.\n" +
            "subscribe to the newsletter now.\n" +
            "subscribe to the newsletter now."))
          .otherwise(lit("a unique middle line.\nanother unique middle line."))
        val echo12 = array_join(
          slice(TextOps.words(col("text")), 1, 12), " ")
        val para3 = when(col("doc_id") % 5 === 0, col("text"))
          .otherwise(when(col("doc_id") % 7 === 0, echo12)
            .otherwise(lit("a closing paragraph for the page.")))
        // ONE corpus exchange (r18, guide §2.4/§8): hash the compact
        // (doc_id, page) rows by doc_id once and MATERIALIZE that
        // partitioning (eager localCheckpoint — the LogicalRDD declares
        // hashpartitioning(doc_id), and the analyzer's self-join
        // dedup otherwise clones the repartition subtree per arm, 6
        // un-reused corpus shuffles instead of 1). Every downstream
        // arm is keyed (doc_id, …), so the exploded unit/gram/token
        // grains — previously 13 separate keyed shuffles of derived
        // rows many times the corpus size — run shuffle-free on this
        // single partitioning (subset distribution for aggregations/
        // windows, leading-key co-partitioning for the joins). doc_id
        // is maximally spread, so no parallelism cap and no skew
        // beyond one document's length; at cluster scale the
        // checkpoint is a doc_id-clustered stage write. Inside the
        // timed region (the builder runs per measured iteration).
        val pages = partitionedCheckpoint(s, d, "tx21_pages",
          Tables.documents(s, d).select(col("doc_id"),
            concat_ws("\n\n", col("text"), para2, para3).as("page")),
          "doc_id")
        val ws = TextOps.words(col("page"))
        // lines and paragraphs ride ONE tagged explode + aggregation
        // (Repetition.dupUnitStatsMulti — the same shuffle-merge move
        // as the top-gram and coverage multi passes)
        val units = pages.select(col("doc_id"),
          explode(concat(
            transform(filter(split(col("page"), "\n"), l => length(l) > 0),
              l => struct(lit("line").as("__t"), l.as("__u"))),
            transform(split(col("page"), "\n\n"),
              p0 => struct(lit("para").as("__t"), p0.as("__u"))))).as("__s"))
          .select(col("doc_id"), col("__s.__t").as("__t"),
            col("__s.__u").as("__u"))
        val base = pages.select(col("doc_id"),
          aggregate(ws, lit(0L), (a, w) => a + length(w)).as("__wchars"))
        // every arm is corpus-sized (one row per doc) — shuffle_hash,
        // never broadcast, and never SMJ (the PlanAuditSpec ban)
        val joined = base
          .join(Repetition.dupUnitStatsMulti(units, "doc_id", "__t", "__u",
              Seq("line", "para"))
            .hint("shuffle_hash"), Seq("doc_id"), "left")
          .join(Repetition.topGramCharsMulti(pages, "doc_id", ws, Seq(2, 3, 4))
            .hint("shuffle_hash"), Seq("doc_id"), "left")
          .join(Repetition.dupGramCharFracMulti(pages, "doc_id", ws,
              Seq(5, 6, 7, 8, 9, 10))
            .hint("shuffle_hash"), Seq("doc_id"), "left")
        def topFrac(n: Int): org.apache.spark.sql.Column =
          coalesce(col(s"top_${n}gram_chars"), lit(0L)).cast("double") /
            col("__wchars")
        val keep = col("dup_line_frac") <= 0.30 &&
          col("dup_para_frac") <= 0.30 &&
          col("dup_line_char_frac") <= 0.20 &&
          col("dup_para_char_frac") <= 0.20 &&
          topFrac(2) <= 0.20 && topFrac(3) <= 0.18 && topFrac(4) <= 0.16 &&
          col("dup5") <= 0.15 && col("dup6") <= 0.14 && col("dup7") <= 0.13 &&
          col("dup8") <= 0.12 && col("dup9") <= 0.11 && col("dup10") <= 0.10
        joined.select(
          col("doc_id"),
          Fmt.t6(col("dup_line_frac")).as("dup_line_frac"),
          Fmt.t6(col("dup_line_char_frac")).as("dup_line_char_frac"),
          Fmt.t6(col("dup_para_frac")).as("dup_para_frac"),
          Fmt.t6(col("dup_para_char_frac")).as("dup_para_char_frac"),
          Fmt.t6(topFrac(2)).as("top_2gram_char_frac"),
          Fmt.t6(topFrac(3)).as("top_3gram_char_frac"),
          Fmt.t6(topFrac(4)).as("top_4gram_char_frac"),
          Fmt.t6(col("dup5")).as("dup_5gram_char_frac"),
          Fmt.t6(col("dup6")).as("dup_6gram_char_frac"),
          Fmt.t6(col("dup7")).as("dup_7gram_char_frac"),
          Fmt.t6(col("dup8")).as("dup_8gram_char_frac"),
          Fmt.t6(col("dup9")).as("dup_9gram_char_frac"),
          Fmt.t6(col("dup10")).as("dup_10gram_char_frac"),
          keep.as("keep"))
          .orderBy("doc_id")
      },
      Some {
        // positioned-gram concat over the 1-based ws list (the tx16
        // oracle idiom, generalized over n)
        def gram(n: Int): String = (0 until n).map {
          case 0 => "ws[CAST(u.i AS INT)]"
          case j => s"ws[CAST(u.i AS INT)+$j]"
        }.mkString(" || ' ' || ")
        def gramsCte(n: Int): String =
          s"""rg$n AS (SELECT doc_id, CAST(u.i AS INT) AS gpos, ${gram(n)} AS g
             |  FROM rws, unnest(range(1, len(ws) - ${n - 2})) AS u(i)),""".stripMargin
        def topCte(n: Int): String =
          s"""rt$n AS (SELECT doc_id, c * length(g) AS top_chars FROM (
             |  SELECT doc_id, g, count(*) AS c,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY count(*) DESC, length(g) DESC) AS rn
             |  FROM rg$n GROUP BY doc_id, g) WHERE rn = 1),""".stripMargin
        def covCte(n: Int): String =
          s"""rd$n AS (SELECT doc_id, g FROM rg$n GROUP BY doc_id, g HAVING count(*) >= 2),
             |rf$n AS (SELECT rg$n.doc_id, gpos FROM rg$n
             |  JOIN rd$n ON rg$n.doc_id = rd$n.doc_id AND rg$n.g = rd$n.g),
             |rc$n AS (SELECT rtok.doc_id, tpos, wl, rf$n.gpos AS marker
             |  FROM rtok LEFT JOIN rf$n
             |    ON rtok.doc_id = rf$n.doc_id AND rtok.tpos = rf$n.gpos),
             |rv$n AS (SELECT doc_id, wl,
             |    max(marker) OVER (PARTITION BY doc_id ORDER BY tpos
             |      ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)
             |      IS NOT NULL AS cov
             |  FROM rc$n),
             |rs$n AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN cov THEN wl ELSE 0 END) AS DOUBLE) / sum(wl)
             |      AS dup$n
             |  FROM rv$n GROUP BY doc_id),""".stripMargin
        def topFracSql(n: Int): String =
          s"CAST(coalesce(rt$n.top_chars, 0) AS DOUBLE) / wchars"
        val keepSql =
          s"""(dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
             |    AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
             |    AND ${topFracSql(2)} <= 0.20 AND ${topFracSql(3)} <= 0.18
             |    AND ${topFracSql(4)} <= 0.16
             |    AND dup5 <= 0.15 AND dup6 <= 0.14 AND dup7 <= 0.13
             |    AND dup8 <= 0.12 AND dup9 <= 0.11 AND dup10 <= 0.10)""".stripMargin
        s"""WITH rpg AS (
           |  SELECT doc_id,
           |    text || chr(10) || chr(10) ||
           |    (CASE WHEN doc_id % 3 = 0
           |          THEN 'subscribe to the newsletter now.' || chr(10) ||
           |               'subscribe to the newsletter now.' || chr(10) ||
           |               'subscribe to the newsletter now.'
           |          ELSE 'a unique middle line.' || chr(10) ||
           |               'another unique middle line.' END) || chr(10) || chr(10) ||
           |    (CASE WHEN doc_id % 5 = 0 THEN text
           |          WHEN doc_id % 7 = 0 THEN array_to_string(
           |            (string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'))[1:12], ' ')
           |          ELSE 'a closing paragraph for the page.' END) AS page
           |  FROM documents),
           |rlns AS (SELECT doc_id,
           |    unnest(list_filter(string_split(page, chr(10)), l -> length(l) > 0)) AS u
           |  FROM rpg),
           |rlc AS (SELECT doc_id, u, count(*) AS c FROM rlns GROUP BY doc_id, u),
           |rlstat AS (SELECT doc_id,
           |    CAST(sum(c - 1) AS DOUBLE) / sum(c) AS dup_line_frac,
           |    CAST(sum((c - 1) * length(u)) AS DOUBLE) / sum(c * length(u))
           |      AS dup_line_char_frac
           |  FROM rlc GROUP BY doc_id),
           |rprs AS (SELECT doc_id, unnest(string_split(page, chr(10) || chr(10))) AS u
           |  FROM rpg),
           |rpc AS (SELECT doc_id, u, count(*) AS c FROM rprs GROUP BY doc_id, u),
           |rpstat AS (SELECT doc_id,
           |    CAST(sum(c - 1) AS DOUBLE) / sum(c) AS dup_para_frac,
           |    CAST(sum((c - 1) * length(u)) AS DOUBLE) / sum(c * length(u))
           |      AS dup_para_char_frac
           |  FROM rpc GROUP BY doc_id),
           |rws AS (SELECT doc_id,
           |    string_split_regex(lower(page), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |  FROM rpg),
           |rwch AS (SELECT doc_id,
           |    list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b)
           |      AS wchars
           |  FROM rws),
           |rtok AS (SELECT doc_id, CAST(u.i AS INT) AS tpos,
           |    length(ws[CAST(u.i AS INT)]) AS wl
           |  FROM rws, unnest(range(1, len(ws) + 1)) AS u(i)),
           |${(Seq(2, 3, 4) ++ (5 to 10)).map(gramsCte).mkString("\n")}
           |${Seq(2, 3, 4).map(topCte).mkString("\n")}
           |${(5 to 9).map(covCte).mkString("\n")}
           |${covCte(10).dropRight(1)}
           |SELECT rwch.doc_id,
           |  ${Fmt.sql6("dup_line_frac")} AS dup_line_frac,
           |  ${Fmt.sql6("dup_line_char_frac")} AS dup_line_char_frac,
           |  ${Fmt.sql6("dup_para_frac")} AS dup_para_frac,
           |  ${Fmt.sql6("dup_para_char_frac")} AS dup_para_char_frac,
           |  ${Fmt.sql6(topFracSql(2))} AS top_2gram_char_frac,
           |  ${Fmt.sql6(topFracSql(3))} AS top_3gram_char_frac,
           |  ${Fmt.sql6(topFracSql(4))} AS top_4gram_char_frac,
           |  ${(5 to 10).map(n => s"${Fmt.sql6(s"dup$n")} AS dup_${n}gram_char_frac,").mkString("\n  ")}
           |  $keepSql AS keep
           |FROM rwch
           |LEFT JOIN rlstat ON rwch.doc_id = rlstat.doc_id
           |LEFT JOIN rpstat ON rwch.doc_id = rpstat.doc_id
           |LEFT JOIN rt2 ON rwch.doc_id = rt2.doc_id
           |LEFT JOIN rt3 ON rwch.doc_id = rt3.doc_id
           |LEFT JOIN rt4 ON rwch.doc_id = rt4.doc_id
           |${(5 to 10).map(n => s"LEFT JOIN rs$n ON rwch.doc_id = rs$n.doc_id").mkString("\n")}
           |ORDER BY rwch.doc_id""".stripMargin
      }),

    Q("tx4_stratified_sample",
      "Deterministic stratified quota sample (curation): up to 20 docs " +
        "per language, the hash-smallest ids — md5 order instead of " +
        "rand() so the selection is reproducible across runs, engines, " +
        "and partition layouts (auditable curation). One window " +
        "shuffle on the stratum key.",
      (s, d) =>
        Sampling.stratifiedQuota(Tables.documents(s, d), "lang", "doc_id", 20)
          .select(col("lang"), col("doc_id"), col("rk"))
          .orderBy("lang", "rk"),
      Some(
        """SELECT lang, doc_id, rk FROM (
          |  SELECT lang, doc_id,
          |         CAST(row_number() OVER (PARTITION BY lang
          |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
          |  FROM documents)
          |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin)),

    Q("tx19_weighted_sample",
      "QUALITY-WEIGHTED stratified sampling via Efraimidis-Spirakis " +
        "keys (IPL 2006): per doc, key = u^(1/quality) with u md5-" +
        "derived — the k largest keys per language are a weighted " +
        "sample WITHOUT replacement whose inclusion odds track the " +
        "tx2 quality score (the curation move that over-samples good " +
        "text instead of hard-thresholding it). No rand(): the draw " +
        "is deterministic, layout-invariant, and restated verbatim in " +
        "SQL, so the oracle hash-checks the exact selection, ranks " +
        "and keys. Same one-window-shuffle topology as tx4.",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("ws", TextOps.words(col("text")))
          .withColumn("quality",
            TextOps.qualityScore(col("text"), col("ws")))
        Sampling.weightedSample(docs, "lang", "doc_id", col("quality"), 20)
          .select(col("lang"), col("rk"), col("doc_id"),
            Fmt.trunc(col("quality"), 6).as("quality"),
            Fmt.trunc(col("es_key"), 6).as("es_key"))
          .orderBy("lang", "rk")
      },
      Some {
        val h = Sketches.hash60Sql("CAST(doc_id AS VARCHAR)")
        s"""WITH q AS (
           |  SELECT lang, doc_id, $qualitySqlExprRaw AS quality
           |  FROM (SELECT lang, doc_id, text,
           |          string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |        FROM documents)),
           |keyed AS (
           |  SELECT lang, doc_id, quality,
           |    power(($h + 1) / 1152921504606846976.0, 1.0 / quality) AS es_key
           |  FROM q),
           |ranked AS (
           |  SELECT lang, doc_id, quality, es_key,
           |    CAST(row_number() OVER (PARTITION BY lang
           |      ORDER BY es_key DESC, doc_id) AS INT) AS rk
           |  FROM keyed)
           |SELECT lang, rk, doc_id,
           |  floor(quality * 1e6 + 1e-6) / 1e6 AS quality,
           |  floor(es_key * 1e6 + 1e-6) / 1e6 AS es_key
           |FROM ranked WHERE rk <= 20 ORDER BY lang, rk""".stripMargin
      }),

    Q("tx6_pack_sequences",
      "Concat-and-chunk sequence packing bookkeeping (the LLM training " +
        "layout step): docs laid end-to-end per language in " +
        "deterministic hash order, the token stream cut into 512-token " +
        "bins — start offset, first/last bin, and the straddle flag " +
        "per doc. One window shuffle per stratum; reproducible from " +
        "the table alone (no rand, no arrival order).",
      (s, d) => {
        val toks = Tables.documents(s, d).select(
          col("lang"), col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        Packing.packBins(toks, "lang", "doc_id", "n_tokens", 512)
          .select("lang", "doc_id", "n_tokens", "start_tok",
            "bin_first", "bin_last", "spans_boundary")
          .orderBy("doc_id")
      },
      Some(
        """WITH toks AS (
          |  SELECT lang, doc_id,
          |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens,
          |         md5(CAST(doc_id AS VARCHAR)) AS sk
          |  FROM documents),
          |laid AS (
          |  SELECT lang, doc_id, n_tokens,
          |         CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY sk, doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
          |  FROM toks)
          |SELECT lang, doc_id, n_tokens, start_tok,
          |       start_tok // 512 AS bin_first,
          |       greatest(start_tok // 512, (start_tok + n_tokens - 1) // 512) AS bin_last,
          |       greatest(start_tok // 512, (start_tok + n_tokens - 1) // 512) > start_tok // 512 AS spans_boundary
          |FROM laid ORDER BY doc_id""".stripMargin)),

    Q("tx5_hash_split",
      "Deterministic train/val/test split (80/10/10): the doc id " +
        "hashes into one of 100 buckets, buckets map to splits — " +
        "map-side only, no shuffle, no rand(), so membership is stable " +
        "under reruns and engine changes (the property that keeps " +
        "eval sets honest).",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            Sampling.hashSplit(col("doc_id"),
              Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          |FROM (
          |  SELECT doc_id,
          |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS b
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm1_binary_meta",
      "Multimodal binary-column plumbing: opaque payload bytes + " +
        "byte-length/checksum/chunk-count metadata (decode itself is " +
        "the stubbed seam, see llm.Multimodal).",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
          .select(
            col("doc_id"),
            length(col("payload")).as("n_bytes"),
            md5(col("payload")).as("checksum"),
            ceil(length(col("payload")).cast("double") / 16).cast("long").as("n_chunks"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
          |  md5(text) AS checksum,
          |  CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 16) AS BIGINT) AS n_chunks
          |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("mm3_batched_decode",
      "Batched multimodal decode (the mapInPandas analog): " +
        "mapPartitions consumes 64-row payload batches, one codec call " +
        "per batch, typed DecodedMeta rows out. The stub codec is " +
        "byte-length-deterministic, so even this non-SQL execution " +
        "path gets a full hash oracle.",
      (s, d) => {
        val withPayload = Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
        Multimodal.decodeBatched(withPayload, "doc_id", "payload")
          .toDF().orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CASE octet_length(encode(text)) % 3
          |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
          |  CAST(octet_length(encode(text)) % 1920 + 64 AS INT) AS width,
          |  CAST(octet_length(encode(text)) % 1080 + 64 AS INT) AS height,
          |  CAST(octet_length(encode(text)) AS INT) AS n_bytes
          |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("mm4_batched_resize",
      "Batched multimodal resize through the same mapBatched seam as " +
        "mm3: stub codec (byte-length + md5 deterministic) so the " +
        "resize stage's plumbing — batching, dead-letter rows, typed " +
        "output — gets a full hash oracle; the real JDK scaler path " +
        "(imageioResizeBatch) stays spec-covered in MultimodalSpec.",
      (s, d) => {
        val withPayload = Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
        Multimodal.resizeBatched(withPayload, "doc_id", "payload", 64, 64,
          codec = Some(Multimodal.stubResizeBatch(64, 64)))
          .select(
            col("doc_id"), col("width"), col("height"),
            md5(col("png")).as("png_md5"),
            length(col("png")).cast("int").as("png_bytes"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE 64 END AS INT) AS width,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE 64 END AS INT) AS height,
          |  CASE WHEN n % 17 = 0 THEN md5('')
          |       ELSE md5('RESIZED:64x64:' || n || ':' || md5(text)) END AS png_md5,
          |  CAST(CASE WHEN n % 17 = 0 THEN 0
          |       ELSE length('RESIZED:64x64:' || n || ':' || md5(text)) END AS INT) AS png_bytes
          |FROM (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm5_feature_extract",
      "Batched multimodal feature-extract (per-image channel means) " +
        "through the mapBatched seam: stub codec for the hash oracle; " +
        "the real full-pixel-decode path (imageioFeatureBatch) stays " +
        "spec-covered in MultimodalSpec.",
      (s, d) => {
        val withPayload = Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
        Multimodal.featuresBatched(withPayload, "doc_id", "payload",
          codec = Multimodal.stubFeatureBatch)
          .toDF().orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE n % 640 + 32 END AS INT) AS width,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE n % 480 + 32 END AS INT) AS height,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE n % 256 END AS DOUBLE) AS mean_r,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE (n * 7) % 256 END AS DOUBLE) AS mean_g,
          |  CAST(CASE WHEN n % 17 = 0 THEN -1 ELSE (n * 13) % 256 END AS DOUBLE) AS mean_b
          |FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm6_real_codec_features",
      "The REAL image codec under the driver oracle: javax.imageio " +
        "full-pixel decode + per-channel means over four checked-in " +
        "PNG fixtures (classpath resources, analytically-known " +
        "content: a 4x4 checkerboard, a 256-wide linear gradient, a " +
        "solid-color tile, and a truncated header that must dead-" +
        "letter, not die). Same mapBatched seam and ImageFeatures " +
        "schema as mm5; the oracle is the analytic expectation as " +
        "literal rows — means land on the trunc-6 grid exactly " +
        "(127.5, 77, 200... are binary-exact), so the hash check is " +
        "meaningful, not a float coincidence.",
      (s, d) => {
        import s.implicits._
        val rows = Seq("checker.png", "gradient.png", "solid_rgb.png",
          "truncated.png").zipWithIndex.map { case (f, i) =>
          val in = getClass.getResourceAsStream(s"/graft/fixtures/$f")
          require(in != null, s"missing classpath fixture $f")
          val bytes = try in.readAllBytes() finally in.close()
          (i + 1L, bytes)
        }
        Multimodal.featuresBatched(
          rows.toDF("doc_id", "payload"), "doc_id", "payload")
          .toDF()
          .select(col("doc_id"), col("width"), col("height"),
            Fmt.trunc(col("mean_r"), 6).as("mean_r"),
            Fmt.trunc(col("mean_g"), 6).as("mean_g"),
            Fmt.trunc(col("mean_b"), 6).as("mean_b"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
          |       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
          |       CAST(mean_r AS DOUBLE) AS mean_r,
          |       CAST(mean_g AS DOUBLE) AS mean_g,
          |       CAST(mean_b AS DOUBLE) AS mean_b
          |FROM (VALUES
          |  (1, 4, 4, 127.5, 127.5, 127.5),
          |  (2, 256, 4, 127.5, 127.5, 77),
          |  (3, 8, 6, 200, 30, 90),
          |  (4, -1, -1, -1, -1, -1))
          |  AS t(doc_id, width, height, mean_r, mean_g, mean_b)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm7_audio_features",
      "AUDIO through the same batched-codec seam (r7 verdict #7): " +
        "real javax.sound.sampled WAV decode — channels / sample rate " +
        "/ frame count / duration / per-channel RMS — over four " +
        "synthesized PCM-16 fixtures with analytically-exact " +
        "expectations (square waves at power-of-two amplitudes land " +
        "on exact doubles: RMS 0.5 and 0.25, silence 0, and a " +
        "truncated header that must dead-letter, not die). Same " +
        "mapBatched plumbing, schema discipline, and dead-letter " +
        "contract as the image quartet.",
      (s, d) => {
        import s.implicits._
        def square(n: Int, amp: Short): Array[Short] =
          Array.tabulate(n)(i => if (i % 2 == 0) amp else (-amp).toShort)
        val stereo = {
          val ch0 = square(4410, 8192)
          Array.tabulate(4410 * 2)(i => if (i % 2 == 0) ch0(i / 2) else 0: Short)
        }
        val rows = Seq(
          (1L, Multimodal.pcm16Wav(8000, 1, square(16000, 16384))),
          (2L, Multimodal.pcm16Wav(44100, 2, stereo)),
          (3L, Multimodal.pcm16Wav(16000, 1, new Array[Short](800))),
          (4L, Array[Byte](82, 73, 70, 70, 0, 1))) // truncated RIFF header
        Multimodal.audioFeaturesBatched(
          rows.toDF("doc_id", "payload"), "doc_id", "payload")
          .toDF()
          .select(col("doc_id"), col("channels"), col("sample_rate"),
            col("n_frames"), col("duration_s"),
            coalesce(try_element_at(col("rms"), lit(1)), lit(-1.0)).as("rms_c0"),
            coalesce(try_element_at(col("rms"), lit(2)), lit(-1.0)).as("rms_c1"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
          |       CAST(channels AS INT) AS channels,
          |       CAST(sample_rate AS INT) AS sample_rate,
          |       CAST(n_frames AS BIGINT) AS n_frames,
          |       CAST(duration_s AS DOUBLE) AS duration_s,
          |       CAST(rms_c0 AS DOUBLE) AS rms_c0,
          |       CAST(rms_c1 AS DOUBLE) AS rms_c1
          |FROM (VALUES
          |  (1, 1, 8000, 16000, 2.0, 0.5, -1.0),
          |  (2, 2, 44100, 4410, CAST(4410 AS DOUBLE) / 44100, 0.25, 0.0),
          |  (3, 1, 16000, 800, 0.05, 0.0, -1.0),
          |  (4, -1, -1, -1, -1.0, -1.0, -1.0))
          |  AS t(doc_id, channels, sample_rate, n_frames, duration_s, rms_c0, rms_c1)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm8_doc_extract",
      "DOCUMENT extraction — the third training-data modality after " +
        "image and audio (r8 verdict ask #6): HTML payloads through " +
        "the same mapBatched codec seam — script/style/comment blocks " +
        "dropped, tags stripped, entities unescaped, whitespace " +
        "collapsed; real JVM extraction, not a stub (the RTF arm runs " +
        "the JDK's javax.swing.text.rtf parser, spec-covered — " +
        "MultimodalSpec). Every 37th payload is unrecognizable bytes " +
        "and must dead-letter, not die. The page plants an entity in " +
        "the title, braces inside script/style (the tx18 '{' page " +
        "rule's natural enemy), and the document text in a paragraph; " +
        "the EXTRACTED TEXT itself is hash-checked.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val html = concat(
          lit("<html><head><title>alpha &amp; beta</title>" +
            "<style>p { color: red; }</style></head><body><h1>doc "),
          col("doc_id").cast("string"),
          lit("</h1><p>"), col("text"),
          lit("</p><script>if (x &lt; 3) { alert(\"hi\"); }" +
            "</script></body></html>"))
        val payload = when(col("doc_id") % 37 === 0,
            lit(Array[Byte](0, 1, 2, -1, -2))) // no sniffable prefix
          .otherwise(html.cast("binary"))
        Multimodal.extractTextBatched(
          docs.select(col("doc_id"), payload.as("payload")),
          "doc_id", "payload")
          .toDF().orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |       CASE WHEN doc_id % 37 = 0 THEN 'error' ELSE 'html' END AS format,
          |       CAST(CASE WHEN doc_id % 37 = 0 THEN -1 ELSE length(xt) END AS INT) AS n_chars,
          |       CAST(CASE WHEN doc_id % 37 = 0 THEN -1
          |            ELSE len(string_split(xt, ' ')) END AS INT) AS n_words,
          |       CASE WHEN doc_id % 37 = 0 THEN NULL ELSE xt END AS text
          |FROM (SELECT doc_id,
          |             'alpha & beta doc ' || CAST(doc_id AS VARCHAR) || ' ' || text AS xt
          |      FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    Q("mm9_image_near_dup",
      "IMAGE near-dup: the multimodal family composed with the dedup " +
        "family. Deterministic formula-generated grayscale fixtures go " +
        "through a REAL PNG encode -> javax.imageio decode roundtrip " +
        "(the codec leg — PNG gray8 is lossless, so decoded samples " +
        "ARE the formula values), then everything downstream is exact " +
        "integer COLUMN work: 2x2-block sums -> 64-bit dHash packed as " +
        "two 32-bit halves -> 4x16-bit banded join (the SimHash " +
        "topology — candidates meet only on a shared band, never " +
        "all-pairs) -> exact hamming <= 6 verify. Planted: 10 " +
        "one-pixel perturbations (hamming <= 1, so >= 3 of 4 bands " +
        "match — banding CANNOT miss them) and 5 exact copies " +
        "(hamming 0). The DuckDB oracle regenerates the pixels from " +
        "the same formula and restates the hash/band/join arithmetic " +
        "verbatim — the codec leg is proven by the roundtrip, the " +
        "dedup legs by the hash check. At 100 TB the codec is the " +
        "only per-byte stage (mapBatched seam); the join is band-keyed " +
        "like dd4.",
      (s, d) => {
        // banding + verify live in ops/BandedHamming since r14 (the
        // dd4-shape helper mm10's incremental form shares); the hash
        // frame is cached — selfPairs reads it through both join arms,
        // and the PNG decode must run once, not twice
        val ids: Seq[(Long, Long, Int)] =
          (1L to 80L).map(i => (i, i, 0)) ++
            (101L to 110L).map(i => (i, 8 * (i - 100), 1)) ++
            (121L to 125L).map(i => (i, i - 120, 0))
        val hashes = Artifacts.frame(s, d, "mm9_hashes")(imageHashes(s, ids))
        graft.ops.BandedHamming
          .selfPairs(hashes, "doc_id", "h_lo", "h_hi", 6)
          .orderBy("doc_a", "doc_b")
      },
      Some(
        """WITH m AS (
          |  SELECT id,
          |         CASE WHEN id <= 80 THEN id
          |              WHEN id <= 120 THEN 8*(id-100)
          |              ELSE id-120 END AS src,
          |         CASE WHEN id BETWEEN 101 AND 110 THEN 1 ELSE 0 END AS d
          |  FROM (SELECT unnest(range(1, 81)) AS id
          |        UNION ALL SELECT unnest(range(101, 111))
          |        UNION ALL SELECT unnest(range(121, 126)))),
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
          |cand AS (
          |  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
          |         a.h_lo AS lo_a, a.h_hi AS hi_a, b.h_lo AS lo_b, b.h_hi AS hi_b
          |  FROM bands a
          |  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
          |              AND a.id < b.id)
          |SELECT doc_a, doc_b,
          |       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6
          |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("mm10_image_near_dup_incremental",
      "INCREMENTAL image near-dup vs a persisted dHash index (r13 " +
        "verdict ask #3 — dd11's production topology on mm9's " +
        "fingerprints): the existing corpus's 4x16-bit band table " +
        "(band, band_val, doc_id, h_lo, h_hi) is written ONCE to " +
        "parquet; a new image batch pays the ONLY codec work (real " +
        "PNG encode -> javax.imageio decode, then exact integer " +
        "dHash), candidates come from band-key equi-joins of the " +
        "batch's bands vs the index (matched_side 'existing') plus " +
        "the batch self-join ('new') — never all-pairs, never " +
        "re-decoding the corpus — and verify is exact hamming <= 6. " +
        "Planted (all hamming <= 1, so >= 3 of 4 bands match and " +
        "banding CANNOT miss): 10 one-pixel perturbations + 5 exact " +
        "copies + 5 perturbed copies of existing images " +
        "(new-vs-existing), the latter two sets pairing up as 5 " +
        "new-vs-new positives. The band-explode + hamming-verify is " +
        "the SAME ops/BandedHamming helper mm9 uses, so batch and " +
        "incremental stay semantically locked. The oracle regenerates " +
        "both populations and restates both arms — the crawling-" +
        "pipeline shape at 100 TB: per-batch cost proportional to the " +
        "batch, index growth by appending the batch's bands.",
      (s, d) => {
        val index = s.read.parquet(mm10ImageIndexDir(s))
        val newIds: Seq[(Long, Long, Int)] =
          (201L to 210L).map(i => (i, 8 * (i - 200), 1)) ++
            (221L to 225L).map(i => (i, 2 * (i - 220) - 1, 0)) ++
            (231L to 235L).map(i => (i, 2 * (i - 230) - 1, 1))
        // cached: incrementalPairs reads the batch through three plan
        // arms, and the batch's codec work must run once, not thrice.
        // freshBatch (idempotent replay, r14 ADVICE) sits INSIDE the
        // cache so its anti-join also runs once, not per arm.
        val nw = Artifacts.frame(s, d, "mm10_new_hashes")(
          graft.ops.BandedHamming.freshBatch(
            s.read.parquet(mm10ImageIndexDir(s)),
            imageHashes(s, newIds), "doc_id"))
        graft.ops.BandedHamming.incrementalPairs(index,
            nw, "doc_id", "h_lo", "h_hi", 6)
          .orderBy("new_doc", "matched_doc", "matched_side")
      },
      Some(
        """WITH m AS (
          |  SELECT 'e' AS side, id, id AS src, 0 AS d
          |  FROM (SELECT unnest(range(1, 81)) AS id)
          |  UNION ALL
          |  SELECT 'n', id,
          |         CASE WHEN id <= 210 THEN 8*(id-200)
          |              WHEN id <= 225 THEN 2*(id-220)-1
          |              ELSE 2*(id-230)-1 END,
          |         CASE WHEN id BETWEEN 201 AND 210 OR id >= 231 THEN 1 ELSE 0 END
          |  FROM (SELECT unnest(range(201, 211)) AS id
          |        UNION ALL SELECT unnest(range(221, 226))
          |        UNION ALL SELECT unnest(range(231, 236)))),
          |pix AS (
          |  SELECT m.side, m.id, xx.x, yy.y,
          |    CASE WHEN m.d = 1 AND xx.x = 0 AND yy.y = 0
          |         THEN ((3*(m.src%7+1)*xx.x + 5*(m.src%11+1)*yy.y + m.src) % 256 + 1) % 256
          |         ELSE (3*(m.src%7+1)*xx.x + 5*(m.src%11+1)*yy.y + m.src) % 256 END AS v
          |  FROM m, (SELECT unnest(range(0, 18)) AS x) xx,
          |       (SELECT unnest(range(0, 16)) AS y) yy),
          |blk AS (
          |  SELECT side, id, x // 2 AS bx, y // 2 AS by, SUM(v) AS s
          |  FROM pix GROUP BY side, id, x // 2, y // 2),
          |bits AS (
          |  SELECT l.side, l.id, l.bx AS x, l.by AS y, (l.s > r.s) AS bit
          |  FROM blk l JOIN blk r ON l.side = r.side AND l.id = r.id
          |                       AND r.bx = l.bx + 1 AND r.by = l.by
          |  WHERE l.bx <= 7 AND l.by <= 7),
          |hh AS (
          |  SELECT side, id,
          |    CAST(SUM(CASE WHEN bit AND y < 4
          |                  THEN (CAST(1 AS BIGINT) << CAST(y*8+x AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_lo,
          |    CAST(SUM(CASE WHEN bit AND y >= 4
          |                  THEN (CAST(1 AS BIGINT) << CAST((y-4)*8+x AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_hi
          |  FROM bits GROUP BY side, id),
          |bands AS (
          |  SELECT side, id, h_lo, h_hi, bb.b AS band,
          |    CASE bb.b WHEN 0 THEN h_lo & 65535
          |              WHEN 1 THEN (h_lo >> 16) & 65535
          |              WHEN 2 THEN h_hi & 65535
          |              ELSE (h_hi >> 16) & 65535 END AS band_val
          |  FROM hh, (SELECT unnest(range(0, 4)) AS b) bb),
          |cand AS (
          |  SELECT DISTINCT n.id AS new_doc, e.id AS matched_doc,
          |         'existing' AS matched_side,
          |         n.h_lo AS lo_n, n.h_hi AS hi_n, e.h_lo AS lo_m, e.h_hi AS hi_m
          |  FROM bands n
          |  JOIN bands e ON n.band = e.band AND n.band_val = e.band_val
          |  WHERE n.side = 'n' AND e.side = 'e'
          |  UNION
          |  SELECT DISTINCT a.id, b.id, 'new',
          |         a.h_lo, a.h_hi, b.h_lo, b.h_hi
          |  FROM bands a
          |  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
          |              AND a.id < b.id
          |  WHERE a.side = 'n' AND b.side = 'n')
          |SELECT new_doc, matched_doc, matched_side,
          |       CAST(bit_count(xor(lo_n, lo_m)) + bit_count(xor(hi_n, hi_m)) AS BIGINT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(lo_n, lo_m)) + bit_count(xor(hi_n, hi_m)) <= 6
          |ORDER BY new_doc, matched_doc, matched_side""".stripMargin)),

    Q("mm11_audio_near_dup",
      "AUDIO near-dup — the third modality composed with the dedup " +
        "family (completes the modality x dedup matrix: text dd4, " +
        "image mm9/mm10, audio here). Deterministic PCM fixtures go " +
        "through a REAL WAV encode -> javax.sound decode roundtrip " +
        "(PCM-16 is lossless, so decoded samples ARE the formula " +
        "values), then everything downstream is exact integer COLUMN " +
        "work: 32-sample window energies (Sum s^2, exact longs) -> " +
        "64-bit energy-delta fingerprint (the Haitsma-Kalker shape, " +
        "dHash on the time axis) packed as two 32-bit halves -> the " +
        "SAME ops/BandedHamming 4x16-bit banded join and hamming <= 6 " +
        "verify mm9 uses. Planted: 10 one-sample perturbations " +
        "(hamming <= 1 — banding cannot miss) and 5 exact copies; one " +
        "junk payload must dead-letter through the channels/length " +
        "gate, not die or false-collide. The oracle regenerates the " +
        "samples from the formula and restates energies, bits, bands " +
        "and the join verbatim. At 100 TB the codec is the only " +
        "per-byte stage (mapBatched seam); the join is band-keyed.",
      (s, d) => {
        import s.implicits._
        val ids: Seq[(Long, Long, Int)] =
          (1L to 60L).map(i => (i, i, 0)) ++
            (101L to 110L).map(i => (i, 6 * (i - 100), 1)) ++
            (121L to 125L).map(i => (i, i - 120, 0))
        // the decodable-but-wrong-shape and undecodable dead-letters:
        // a junk payload and a stereo clip — both must fall out at the
        // channels/length gate, never reach the banded join
        val junk = Seq(
          (131L, Array[Byte](9, 9, 9, 9)),
          (132L, Multimodal.pcm16Wav(8000, 2, Array.fill[Short](128)(7))))
        val hashes = Artifacts.frame(s, d, "mm11_hashes")(
          audioHashes(s, ids))
        val junkHashes = {
          val px = Multimodal
            .audioSamplesBatched(junk.toDF("doc_id", "payload"),
              "doc_id", "payload").toDF()
          val (lo, hi) = Multimodal.energyFingerprintHalves(col("samples"))
          px.filter(col("channels") === 1 && size(col("samples")) === 2080)
            .select(col("doc_id"), lo.as("h_lo"), hi.as("h_hi"))
        }
        graft.ops.BandedHamming
          .selfPairs(hashes.unionAll(junkHashes), "doc_id", "h_lo", "h_hi", 6)
          .orderBy("doc_a", "doc_b")
      },
      Some(
        """WITH m AS (
          |  SELECT id,
          |         CASE WHEN id <= 60 THEN id
          |              WHEN id <= 120 THEN 6*(id-100)
          |              ELSE id-120 END AS src,
          |         CASE WHEN id BETWEEN 101 AND 110 THEN 1 ELSE 0 END AS d
          |  FROM (SELECT unnest(range(1, 61)) AS id
          |        UNION ALL SELECT unnest(range(101, 111))
          |        UNION ALL SELECT unnest(range(121, 126)))),
          |smp AS (
          |  SELECT m.id, tt.t,
          |    CASE WHEN m.d = 1 AND tt.t = 0
          |         THEN (3*(m.src%7+1)*tt.t + 5*(m.src%11+1)*(tt.t//32) + m.src*11) % 401 - 200 + 1
          |         ELSE (3*(m.src%7+1)*tt.t + 5*(m.src%11+1)*(tt.t//32) + m.src*11) % 401 - 200 END AS v
          |  FROM m, (SELECT unnest(range(0, 2080)) AS t) tt),
          |en AS (
          |  SELECT id, t // 32 AS w, SUM(v*v) AS e
          |  FROM smp GROUP BY id, t // 32),
          |bits AS (
          |  SELECT l.id, l.w, (r.e > l.e) AS bit
          |  FROM en l JOIN en r ON l.id = r.id AND r.w = l.w + 1
          |  WHERE l.w <= 63),
          |hh AS (
          |  SELECT id,
          |    CAST(SUM(CASE WHEN bit AND w < 32
          |                  THEN (CAST(1 AS BIGINT) << CAST(w AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_lo,
          |    CAST(SUM(CASE WHEN bit AND w >= 32
          |                  THEN (CAST(1 AS BIGINT) << CAST(w-32 AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_hi
          |  FROM bits GROUP BY id),
          |bands AS (
          |  SELECT id, h_lo, h_hi, bb.b AS band,
          |    CASE bb.b WHEN 0 THEN h_lo & 65535
          |              WHEN 1 THEN (h_lo >> 16) & 65535
          |              WHEN 2 THEN h_hi & 65535
          |              ELSE (h_hi >> 16) & 65535 END AS band_val
          |  FROM hh, (SELECT unnest(range(0, 4)) AS b) bb),
          |cand AS (
          |  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
          |         a.h_lo AS lo_a, a.h_hi AS hi_a, b.h_lo AS lo_b, b.h_hi AS hi_b
          |  FROM bands a
          |  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
          |              AND a.id < b.id)
          |SELECT doc_a, doc_b,
          |       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6
          |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("mm12_audio_near_dup_incremental",
      "INCREMENTAL audio near-dup vs a persisted fingerprint index " +
        "(r15 verdict ask #3 — completes the modality x incremental " +
        "matrix: text dd11, grams st7/st12, images mm10, embeddings " +
        "st16, AUDIO here): the existing clips' energy-delta " +
        "fingerprint band table (band, band_val, doc_id, h_lo, h_hi) " +
        "is written ONCE to parquet (mm12AudioIndexDir — the mm10 " +
        "writer verbatim one modality over); a new clip batch pays " +
        "the ONLY codec work (real WAV encode -> javax.sound decode, " +
        "PCM-16 lossless, then exact integer window energies and the " +
        "64-bit Haitsma-Kalker-shaped fingerprint), candidates come " +
        "from band-key equi-joins of the batch's bands vs the index " +
        "(matched_side 'existing') plus the batch self-join ('new') " +
        "— never all-pairs, never re-decoding the corpus — and " +
        "verify is exact hamming <= 6 through the SAME " +
        "ops/BandedHamming.incrementalPairs mm10 uses, with " +
        "freshBatch's idempotent-replay contract above the codec " +
        "cache (a re-submitted clip id reports nothing). Planted " +
        "(all hamming <= 1, so >= 3 of 4 bands match and banding " +
        "CANNOT miss): 10 one-sample perturbations of existing clips " +
        "+ 5 exact copies + 5 perturbed copies (new-vs-existing), " +
        "the latter two sets pairing up as 5 new-vs-new positives. " +
        "The oracle regenerates both populations from the PCM " +
        "formula and restates both arms — per-batch cost " +
        "proportional to the batch, index growth by appending the " +
        "batch's bands (the sql/init_schema.sql:17 dedup-on-replay " +
        "semantics, per modality).",
      (s, d) => {
        val index = s.read.parquet(mm12AudioIndexDir(s))
        val newIds: Seq[(Long, Long, Int)] =
          (301L to 310L).map(i => (i, 6 * (i - 300), 1)) ++
            (321L to 325L).map(i => (i, 2 * (i - 320) - 1, 0)) ++
            (331L to 335L).map(i => (i, 2 * (i - 330) - 1, 1))
        // cached: incrementalPairs reads the batch through three plan
        // arms, and the batch's codec work must run once, not thrice.
        // freshBatch (idempotent replay) sits INSIDE the cache so its
        // anti-join also runs once, not per arm (the mm10 contract).
        val nw = Artifacts.frame(s, d, "mm12_new_hashes")(
          graft.ops.BandedHamming.freshBatch(
            s.read.parquet(mm12AudioIndexDir(s)),
            audioHashes(s, newIds), "doc_id"))
        graft.ops.BandedHamming.incrementalPairs(index,
            nw, "doc_id", "h_lo", "h_hi", 6)
          .orderBy("new_doc", "matched_doc", "matched_side")
      },
      Some(
        """WITH m AS (
          |  SELECT 'e' AS side, id, id AS src, 0 AS d
          |  FROM (SELECT unnest(range(1, 61)) AS id)
          |  UNION ALL
          |  SELECT 'n', id,
          |         CASE WHEN id <= 310 THEN 6*(id-300)
          |              WHEN id <= 325 THEN 2*(id-320)-1
          |              ELSE 2*(id-330)-1 END,
          |         CASE WHEN id BETWEEN 301 AND 310 OR id >= 331 THEN 1 ELSE 0 END
          |  FROM (SELECT unnest(range(301, 311)) AS id
          |        UNION ALL SELECT unnest(range(321, 326))
          |        UNION ALL SELECT unnest(range(331, 336)))),
          |smp AS (
          |  SELECT m.side, m.id, tt.t,
          |    CASE WHEN m.d = 1 AND tt.t = 0
          |         THEN (3*(m.src%7+1)*tt.t + 5*(m.src%11+1)*(tt.t//32) + m.src*11) % 401 - 200 + 1
          |         ELSE (3*(m.src%7+1)*tt.t + 5*(m.src%11+1)*(tt.t//32) + m.src*11) % 401 - 200 END AS v
          |  FROM m, (SELECT unnest(range(0, 2080)) AS t) tt),
          |en AS (
          |  SELECT side, id, t // 32 AS w, SUM(v*v) AS e
          |  FROM smp GROUP BY side, id, t // 32),
          |bits AS (
          |  SELECT l.side, l.id, l.w, (r.e > l.e) AS bit
          |  FROM en l JOIN en r ON l.side = r.side AND l.id = r.id
          |                     AND r.w = l.w + 1
          |  WHERE l.w <= 63),
          |hh AS (
          |  SELECT side, id,
          |    CAST(SUM(CASE WHEN bit AND w < 32
          |                  THEN (CAST(1 AS BIGINT) << CAST(w AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_lo,
          |    CAST(SUM(CASE WHEN bit AND w >= 32
          |                  THEN (CAST(1 AS BIGINT) << CAST(w-32 AS INT))
          |                  ELSE 0 END) AS BIGINT) AS h_hi
          |  FROM bits GROUP BY side, id),
          |bands AS (
          |  SELECT side, id, h_lo, h_hi, bb.b AS band,
          |    CASE bb.b WHEN 0 THEN h_lo & 65535
          |              WHEN 1 THEN (h_lo >> 16) & 65535
          |              WHEN 2 THEN h_hi & 65535
          |              ELSE (h_hi >> 16) & 65535 END AS band_val
          |  FROM hh, (SELECT unnest(range(0, 4)) AS b) bb),
          |cand AS (
          |  SELECT DISTINCT n.id AS new_doc, e.id AS matched_doc,
          |         'existing' AS matched_side,
          |         n.h_lo AS lo_n, n.h_hi AS hi_n, e.h_lo AS lo_m, e.h_hi AS hi_m
          |  FROM bands n
          |  JOIN bands e ON n.band = e.band AND n.band_val = e.band_val
          |  WHERE n.side = 'n' AND e.side = 'e'
          |  UNION
          |  SELECT DISTINCT a.id, b.id, 'new',
          |         a.h_lo, a.h_hi, b.h_lo, b.h_hi
          |  FROM bands a
          |  JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
          |              AND a.id < b.id
          |  WHERE a.side = 'n' AND b.side = 'n')
          |SELECT new_doc, matched_doc, matched_side,
          |       CAST(bit_count(xor(lo_n, lo_m)) + bit_count(xor(hi_n, hi_m)) AS BIGINT) AS hamming
          |FROM cand
          |WHERE bit_count(xor(lo_n, lo_m)) + bit_count(xor(hi_n, hi_m)) <= 6
          |ORDER BY new_doc, matched_doc, matched_side""".stripMargin)),

    Q("dd5_embedding_near_dup",
      "Embedding-cosine near-dup: planted perturbed replays detected " +
        "by pairwise cosine >= 0.99. Candidate pairs come from axis-" +
        "aligned sign-bit LSH (4 tables over disjoint 16-component " +
        "groups, equi-join on (table, bucket) — never all-pairs): the " +
        "planted +0.05 perturbation touches only component 1, so " +
        "tables 2-4 collide deterministically and recall is exactly 1. " +
        "Verified at sf0.01/0.1 to return the identical result set as " +
        "the all-pairs cross join it replaced, at ~0.004% of the pairs.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // plant near-dups: every 40th vector replayed with +0.05 on its
        // first component (cosine ~0.999 vs original)
        val planted = emb.filter(col("vec_id") % 40 === 0)
          .select(
            (col("vec_id") + 1000000L).as("vec_id"),
            concat(
              array(element_at(col("embedding"), 1) + lit(0.05f)),
              slice(col("embedding"), 2, 63)).as("embedding"))
        // norms once per row (not per pair) — same doubles as
        // cosine(a,b)'s inline sqrt(dot(x,x)) factors, oracle-stable
        val corpus = emb.select("vec_id", "embedding").unionAll(planted)
          .withColumn("nrm", Similarity.norm(col("embedding")))
        val keyed = corpus
          .withColumn("tb",
            explode(Similarity.axisSignBuckets(col("embedding"), 4, 16)))
          .select(col("tb.t").as("__t"), col("tb.b").as("__b"),
            col("vec_id"), col("embedding"), col("nrm"))
        val a = keyed.select(col("__t"), col("__b"), col("vec_id").as("id_a"),
          col("embedding").as("vec_a"), col("nrm").as("nrm_a"))
        val b = keyed.select(col("__t"), col("__b"), col("vec_id").as("id_b"),
          col("embedding").as("vec_b"), col("nrm").as("nrm_b"))
        a.join(b, Seq("__t", "__b")) // shuffle-bounded equi-join
          .filter(col("id_a") < col("id_b"))
          .dropDuplicates("id_a", "id_b") // a pair can collide in several tables
          .withColumn("cos_sim", Fmt.trunc(
            Similarity.dotD(col("vec_a"), col("vec_b")) /
              (col("nrm_a") * col("nrm_b")), 4))
          .filter(col("cos_sim") >= 0.99)
          .select("id_a", "id_b", "cos_sim")
          .orderBy("id_a", "id_b")
      },
      Some(
        """WITH corpus AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 1000000,
          |         list_concat([embedding[1] + CAST(0.05 AS FLOAT)], embedding[2:64])
          |  FROM embeddings WHERE vec_id % 40 = 0),
          |keyed AS (
          |  SELECT vec_id, embedding, t,
          |    CASE WHEN len(embedding) >= 16*t + 16
          |          AND len(list_filter(embedding[16*t + 1 : 16*t + 16],
          |                              e -> e IS NULL)) = 0
          |         THEN list_sum(list_transform(range(1, 17),
          |                i -> CASE WHEN embedding[16*t + i] >= 0
          |                     THEN (1::BIGINT << (i-1)) ELSE 0 END))
          |         END AS b
          |  FROM corpus, (VALUES (0), (1), (2), (3)) tt(t)),
          |cand AS (
          |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
          |         a.embedding AS va, b.embedding AS vb
          |  FROM keyed a JOIN keyed b
          |    ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
          |scored AS (
          |  SELECT id_a, id_b,
          |    floor((
          |      list_sum(list_transform(range(1, len(va) + 1),
          |        i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))) /
          |      (sqrt(list_sum(list_transform(range(1, len(va) + 1),
          |        i -> CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE)))) *
          |       sqrt(list_sum(list_transform(range(1, len(vb) + 1),
          |        i -> CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))))) * 1e4 + 1e-6) / 1e4 AS cos_sim
          |  FROM cand)
          |SELECT id_a, id_b, cos_sim FROM scored
          |WHERE cos_sim >= 0.99 ORDER BY id_a, id_b""".stripMargin)),

    Q("mm2_chunk_sample",
      "Chunk + stride-sample the binary payload (frame-sampling shape): " +
        "16-byte chunks, every 4th kept, exploded to rows. The length-" +
        "deterministic stub makes even the chunk geometry fully " +
        "hash-oracled.",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("payload", Multimodal.payload(col("text")))
          .withColumn("meta", Multimodal.fakeDecodeMeta(col("payload")))
          .withColumn("chunks", Multimodal.chunks(col("payload"), 16))
          .withColumn("sampled", Multimodal.sampleEvery(col("chunks"), 4))
          .select(
            col("doc_id"),
            col("meta.format").as("format"),
            posexplode(col("sampled")).as(Seq("chunk_idx", "chunk")))
          .select(col("doc_id"), col("format"), col("chunk_idx"),
            length(col("chunk")).as("chunk_bytes")),
      Some(
        """SELECT doc_id,
          |  CASE len % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
          |  CAST(j // 4 AS INT) AS chunk_idx,
          |  CAST(CASE WHEN j < n_chunks - 1 THEN 16
          |            ELSE len - 16 * (n_chunks - 1) END AS INT) AS chunk_bytes
          |FROM (
          |  SELECT doc_id, len, n_chunks, unnest(range(0, n_chunks)) AS j
          |  FROM (
          |    SELECT doc_id, octet_length(encode(text)) AS len,
          |           CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT) AS n_chunks
          |    FROM documents))
          |WHERE j % 4 = 0""".stripMargin)),

    Q("dd10_semantic_dedup",
      "SemDeDup (Abbas et al. 2023): semantic dedup via embedding " +
        "clustering — cosine compared ONLY within a k-means cell " +
        "(label-centroid cells, the ss2 'trained' pattern), a row with " +
        "sim >= 0.9 to a lower-id cell-mate is a semantic duplicate of " +
        "the minimum such mate. Planted replays (every 25th vector, " +
        "last component zeroed — pure slice+pad, no float arithmetic) " +
        "give deterministic positives; natural within-cell cosine " +
        "maxes out at ~0.48 so the threshold separates cleanly.",
      (s, d) =>
        semanticDupsFrame(s, d).orderBy("vec_id"),
      Some(semDedupCoreSql +
        """SELECT a.vec_id, a.cell, g.max_sim_lower,
          |       g.dup_of IS NOT NULL AS is_semantic_dup, g.dup_of
          |FROM assign a LEFT JOIN agg g ON a.vec_id = g.id_hi
          |ORDER BY a.vec_id""".stripMargin)),

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


    Q("tx9_line_dedup",
      "Line-level exact dedup across the corpus (the C4/RefinedWeb " +
        "boilerplate-removal recipe): lines recurring in >= 5 distinct " +
        "documents are removed everywhere, documents reassembled from " +
        "surviving lines in original order. Planted boilerplate " +
        "(social-media line on every 3rd doc, rights line on every " +
        "5th) gives deterministic removals; the reassembled text " +
        "itself is hash-checked.",
      (s, d) => {
        val lined = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              lit("\nfollow us on social media for updates")).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              lit("\nall rights reserved worldwide")).otherwise(lit("")))
            .as("text"))
        Dedup.lineDedup(lined, "doc_id", "text", minDocs = 5)
          .orderBy("doc_id")
      },
      Some(
        """WITH lined AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 3 = 0
          |         THEN chr(10) || 'follow us on social media for updates' ELSE '' END ||
          |    CASE WHEN doc_id % 5 = 0
          |         THEN chr(10) || 'all rights reserved worldwide' ELSE '' END AS text
          |  FROM documents),
          |lines AS (
          |  SELECT doc_id,
          |         unnest(string_split(text, chr(10))) AS line,
          |         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
          |  FROM lined),
          |common AS (
          |  SELECT line AS cline FROM lines
          |  GROUP BY line HAVING count(DISTINCT doc_id) >= 5)
          |SELECT doc_id, count(*) AS n_lines,
          |       count(cline) AS n_removed,
          |       string_agg(CASE WHEN cline IS NULL THEN line END,
          |                  chr(10) ORDER BY pos) AS clean_text
          |FROM lines l LEFT JOIN common c ON l.line = c.cline
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("tx10_importance_weights",
      "DSIR-style data selection (Xie et al. 2023): hashed-unigram " +
        "importance weights — 256 md5 buckets, Lidstone-smoothed " +
        "target (curated sources src0-src3) vs raw log-likelihood " +
        "ratios, per-doc weight = sum of its tokens' bucket ratios. " +
        "The bucket table is fixed-size -> broadcast; scoring is " +
        "map-side + one doc-keyed aggregation.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val target = col("source").isin("src0", "src1", "src2", "src3")
        val ratios = Importance.bucketLogRatios(
          docs, "text", target, buckets = 256, alpha = 1.0, ratioTrunc = Fmt.t6)
        Importance.docLogWeights(docs, "doc_id", "text", ratios, buckets = 256)
          .select(col("doc_id"), col("n_words"),
            Fmt.t6(col("log_weight_raw")).as("log_weight"),
            (Fmt.t6(col("log_weight_raw")) > 0).as("is_target_like"))
          .orderBy("doc_id")
      },
      Some(
        """WITH w AS (
          |  SELECT doc_id, source, unnest(ws) AS w FROM (
          |    SELECT doc_id, source,
          |           string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
          |    FROM documents)),
          |b AS (
          |  SELECT doc_id, source,
          |         CAST(CAST(('0x' || substring(md5(w), 1, 8)) AS UBIGINT) % 256 AS BIGINT) AS bucket
          |  FROM w),
          |counts AS (
          |  SELECT bucket,
          |         sum(CASE WHEN source IN ('src0','src1','src2','src3') THEN 1 ELSE 0 END) AS ct,
          |         sum(CASE WHEN source IN ('src0','src1','src2','src3') THEN 0 ELSE 1 END) AS cr
          |  FROM b GROUP BY bucket),
          |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
          |ratios AS (
          |  SELECT bucket,
          |         floor((ln((ct + 1.0) / (nt + 256.0)) -
          |                ln((cr + 1.0) / (nr + 256.0))) * 1e6 + 1e-6) / 1e6 AS lr
          |  FROM counts, tot)
          |SELECT doc_id, count(*) AS n_words,
          |       floor((sum(lr)) * 1e6 + 1e-6) / 1e6 AS log_weight,
          |       floor((sum(lr)) * 1e6 + 1e-6) / 1e6 > 0 AS is_target_like
          |FROM b JOIN ratios USING (bucket)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("tx11_bpe_tokenize",
      "BPE tokenizer (Sennrich et al. 2016): merge rules learned " +
        "count-weighted on the corpus word histogram (aggregate-" +
        "before-ML — one shuffle to the bounded top-K table, driver " +
        "merge loop), then applied corpus-wide as a literal chain of " +
        "plain replace calls: a pure codegen'd map stage, zero " +
        "shuffle. Token counts, compression, and the md5 of the " +
        "tokenized symbol string itself are hash-checked against an " +
        "oracle replaying the identical replace chain.",
      (s, d) => {
        val merges = learnedMerges(s, d)
        val sym = Bpe.symbolize(Bpe.stripSep(lower(col("text"))))
        // r8: the Spark side runs the merge-count-independent kernel
        // (ONE expression node, llm/BpeKernel.scala); the oracle below
        // still replays the literal replace chain — the hash match IS
        // the corpus-scale byte-identity proof of kernel ≡ chain
        val toked = graft.functions.BpeTokenize.tokenize(
          Bpe.stripSep(lower(col("text"))), merges)
        Tables.documents(s, d).select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          Bpe.tokenCount(sym).as("n_base_symbols"),
          Bpe.tokenCount(toked).as("n_tokens"),
          Fmt.trunc(Bpe.tokenCount(sym).cast("double") / Bpe.tokenCount(toked), 6)
            .as("compression"),
          md5(toked).as("token_fingerprint"))
          .orderBy("doc_id")
      },
      Tables.withPrimedSession("tx11")(learnedMerges).map(tx11OracleSql)),

    Q("tx12_lm_perplexity",
      "LM-perplexity quality scoring (the CCNet recipe, Wenzek et al. " +
        "2020): a hashed-bigram Lidstone LM (256 buckets, proper " +
        "conditional over the hashed vocab) trained on the curated " +
        "sources src0-src3, every document scored by mean bigram " +
        "log-prob + perplexity. The pair table is bounded by the " +
        "bucket space -> always broadcast; scoring is map-side + one " +
        "doc-keyed aggregation.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val B = 256
        val target = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
        val (pairLogp, ctxBackoff) = trainedLm(s, d, "tx12_lm", target, B)
        LangModel.scoreDocs(docs, "doc_id", "text", pairLogp, ctxBackoff,
          B, floorLogp = math.log(1.0 / B))
          .select(col("doc_id"), col("n_bigrams"),
            Fmt.t6(col("avg_logp_raw")).as("avg_logp"),
            Fmt.trunc(exp(-Fmt.t6(col("avg_logp_raw"))), 3).as("ppl"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH gs AS (
           |  SELECT doc_id, source,
           |         CASE WHEN len(ws) >= 2
           |           THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
           |           ELSE [] END AS gl
           |  FROM (SELECT doc_id, source,
           |               string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
           |        FROM documents)),
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
           |  SELECT doc_id, count(*) AS n_bigrams,
           |         floor((avg(coalesce(logp, backoff, ${math.log(1.0 / 256)}))) * 1e6 + 1e-6) / 1e6 AS avg_logp
           |  FROM bg
           |  LEFT JOIN plp USING (b1, b2)
           |  LEFT JOIN bo USING (b1)
           |  GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, avg_logp,
           |       floor((exp(-avg_logp)) * 1e3 + 1e-6) / 1e3 AS ppl
           |FROM scored ORDER BY doc_id""".stripMargin)),

    Q("tx13_token_budget_mixture",
      "Token-budget mixture sampling (the Pile/LLaMA data-mixing " +
        "recipe): each language contributes a fixed TOKEN share, not a " +
        "document share — greedy fill in reproducible md5-of-id order " +
        "until the group budget (en 6000, others 2000) is reached. One " +
        "window shuffle; every row keeps its audit trail (n_tokens, " +
        "exclusive running sum, selected).",
      (s, d) => {
        Sampling.tokenBudgetMixture(
          Tables.documents(s, d), "lang", "doc_id",
          TextOps.tokenCount(col("text")),
          Map("en" -> 6000L, "de" -> 2000L, "es" -> 2000L,
            "fr" -> 2000L, "zh" -> 2000L))
          .select("doc_id", "lang", "n_tokens", "cum_before", "selected")
          .orderBy("doc_id")
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, lang,
          |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens,
          |         md5(CAST(doc_id AS VARCHAR)) AS sk
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, lang, n_tokens,
          |         CAST(coalesce(sum(n_tokens) OVER (
          |           PARTITION BY lang ORDER BY sk, doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
          |  FROM t)
          |SELECT doc_id, lang, n_tokens, cum_before,
          |       coalesce(cum_before < CASE lang WHEN 'en' THEN 6000 WHEN 'de' THEN 2000
          |                                       WHEN 'es' THEN 2000 WHEN 'fr' THEN 2000
          |                                       WHEN 'zh' THEN 2000 END, false) AS selected
          |FROM c ORDER BY doc_id""".stripMargin)),

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

    Q("dd11_incremental_dedup",
      "Incremental near-dup check — the PRODUCTION dedup shape: a new " +
        "batch (planted truncated replays: every 50th doc as id+1M, " +
        "every 100th ALSO as id+2M, giving both new-vs-existing and " +
        "new-vs-new positives) is checked against the existing " +
        "corpus's persisted SIGNATURE table and itself. The existing " +
        "text is never re-read; verification is MinHash signature " +
        "agreement (an unbiased Jaccard estimator), candidates come " +
        "from band-key equi-joins proportional to the batch.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        def replay(mod: Int, offset: Long) =
          docs.filter(col("doc_id") % mod === 0)
            .select((col("doc_id") + offset).as("doc_id"),
              truncateLastWord(col("text")).as("text"))
        val newBatch = replay(50, 1000000L).unionAll(replay(100, 2000000L))
        val ex = Dedup.signDocs(docs, "doc_id", "text", MinhashK, Bands, RowsPerBand)
        // cache: incrementalNearDups reads the signed batch through
        // three plan arms (vs-existing + both sides of the self-join)
        val nw = Artifacts.frame(s, d, "dd11_signed_batch")(
          Dedup.signDocs(newBatch, "doc_id", "text", MinhashK, Bands, RowsPerBand))
        Dedup.incrementalNearDups(ex, "doc_id", nw, "doc_id",
          simThreshold = 0.5, simTrunc = Fmt.t6)
          .orderBy("new_doc", "matched_doc", "matched_side")
      },
      Some(
        """WITH newb AS (
          |  SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '[ \t\n\x0B\f\r]+[^ \t\n\x0B\f\r]+\z', '') AS text
          |  FROM documents WHERE doc_id % 50 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000, regexp_replace(text, '[ \t\n\x0B\f\r]+[^ \t\n\x0B\f\r]+\z', '')
          |  FROM documents WHERE doc_id % 100 = 0),
          |""".stripMargin +
        signSqlFor("documents", "ex") +
        signSqlFor("newb", "nw") +
        s"""cand AS (
           |  SELECT DISTINCT n.doc_id AS new_doc, e.doc_id AS matched_doc,
           |         'existing' AS matched_side, n.sig AS new_sig, e.sig AS old_sig
           |  FROM nw_b n JOIN ex_b e USING (band_key)
           |  UNION
           |  SELECT DISTINCT a.doc_id, b.doc_id, 'new', a.sig, b.sig
           |  FROM nw_b a JOIN nw_b b USING (band_key)
           |  WHERE a.doc_id < b.doc_id),
           |scored AS (
           |  SELECT new_doc, matched_doc, matched_side,
           |         floor((CAST(list_sum(list_transform(range(1, ${MinhashK + 1}),
           |           i -> CASE WHEN new_sig[i] = old_sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
           |           / $MinhashK) * 1e6 + 1e-6) / 1e6 AS sig_sim
           |  FROM cand)
           |SELECT new_doc, matched_doc, matched_side, sig_sim
           |FROM scored WHERE sig_sim >= 0.5
           |ORDER BY new_doc, matched_doc, matched_side""".stripMargin)),

    Q("tx14_quality_classifier",
      "Model-based quality filtering (the GPT-3/LLaMA recipe): " +
        "logistic regression over 64 hashed token-frequency buckets, " +
        "trained by distributed IRLS (one treeAggregate gram per " +
        "iteration, fixed-size payload — the GramOls shape with " +
        "working weights) to separate curated sources from raw; every " +
        "document scored via the broadcast fitted-coefficient table. " +
        "Generated oracle replays the literal coefficients + sigmoid.",
      (s, d) => {
        val fit = fittedQualityModel(s, d)
        val docs = Tables.documents(s, d)
        graft.ml.Logistic.scoreDocs(docs, "doc_id", "text", fit, LogitBuckets)
          .join(docs.select(col("doc_id"),
            col("source").isin(CuratedSources: _*).as("is_curated")), Seq("doc_id"))
          .select(col("doc_id"), col("n_words"),
            Fmt.t6(col("quality_prob_raw")).as("quality_prob"),
            // keep-cut ABOVE the curated base rate (0.2): the GPT-3
            // recipe thresholds/samples relative to the score
            // distribution, not at 0.5 — with a 20% prior a 0.5 cut
            // would keep almost nothing even for a good classifier;
            // 0.25 keeps documents scoring clearly above the prior
            (Fmt.t6(col("quality_prob_raw")) >= 0.25).as("keep"),
            col("is_curated"))
          .orderBy("doc_id")
      },
      oracleLogit.map(tx14OracleSql)),

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

    Q("tx15_chunk_overlap",
      "Sliding-window chunking with overlap (the RAG-indexing / " +
        "long-context prep op): 64-token windows retaining 16 tokens " +
        "of context (stride 48), one row per chunk with the chunk " +
        "TEXT itself hash-checked. Pure map + explode — no shuffle, " +
        "scan throughput at any scale.",
      (s, d) =>
        Packing.chunkWithOverlap(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
          .orderBy("doc_id", "chunk_idx"),
      Some(
        """WITH w AS (
          |  SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ws
          |  FROM documents),
          |k AS (
          |  SELECT doc_id, ws,
          |         CASE WHEN len(ws) <= 64 THEN 1
          |              ELSE CAST(ceil((len(ws) - 64) / 48.0) AS INT) + 1 END AS k
          |  FROM w)
          |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
          |       CAST(len(ws[i*48 + 1 : i*48 + 64]) AS INT) AS chunk_tokens,
          |       array_to_string(ws[i*48 + 1 : i*48 + 64], ' ') AS chunk_text
          |FROM (SELECT doc_id, ws, unnest(range(0, k)) AS i FROM k)
          |ORDER BY doc_id, chunk_idx""".stripMargin)),

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
}
