package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.{Artifacts, Tables}
import graft.llm.{Bpe, Dedup, Importance, LangModel, Packing, Repetition, Sampling, TextOps}
import graft.ops.Sketches

/** The text family (tx): token stats, quality and langid, sampling,
  * packing, redaction, repetition and Gopher rules, C4, substring and
  * line dedup, BPE, LM perplexity, token budgets, the classifier. */
object TextQueries extends Q.Registry {
  import Corpus.{corpus, corpusSql}

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

  /** tx2's quality/langid formulas as SQL expressions over a `text` +
    * `ws` (lowercased word list) scope — shared VERBATIM by the tx2
    * oracle and llm1's composed pipeline oracle, so the three copies of
    * these formulas (TextOps, tx2, llm1) can never drift apart in SQL. */
  private def stopHitsSql(stops: Seq[String]): String =
    s"len(list_filter(ws, w -> list_contains([${stops.map(w => s"'$w'").mkString(",")}], w)))"
  private[queries] def qualitySqlExprRaw: String = {
    val en = stopHitsSql(TextOps.StopEn)
    s"""(((CASE WHEN len(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.3 END) +
       |          (CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / len(text) < 0.2 THEN 1.0 ELSE 0.4 END) +
       |          (CASE WHEN CAST($en AS DOUBLE) / len(ws) > 0.02 THEN 1.0 ELSE 0.5 END)) / 3.0)""".stripMargin
  }
  private[queries] def qualitySqlExpr: String = Fmt.sql6(qualitySqlExprRaw)
  private[queries] def langPredSqlExpr: String = {
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

  /** The curated-source predicate shared by tx10 (DSIR target), tx12
    * (LM training slice) and tx14 (classifier labels). */
  private[queries] val CuratedSources = Seq("src0", "src1", "src2", "src3")

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
  private[queries] def trainedLm(s: SparkSession, d: String, name: String,
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
  private def fittedQualityModel(s: SparkSession, d: String): graft.ml.Logistic.LogitFit =
    Artifacts.get(Artifacts.Jvm, d, "quality_model") { _ =>
      val docs = Tables.documents(s, d)
      val labeled = graft.ml.Logistic
        .hashedFeatures(docs, "doc_id", "text", LogitBuckets)
        .join(docs.select(col("doc_id"),
          col("source").isin(CuratedSources: _*).cast("double").as("__y")),
          Seq("doc_id"))
      graft.ml.Logistic.fitIrls(labeled, "feats", "__y", p = LogitBuckets)
    }
  /** The Gopher TEXT-LEVEL quality columns shared by llm4 and llm5 —
    * ONE definition so the two chains cannot drift (r14 self-review;
    * thresholds in [[gopherBaseKeep]] are the chain constants tx20
    * documents vs the paper's web-page 50/2). Unused columns prune
    * away under Catalyst, so llm5 paying for llm4's extra ratios here
    * costs nothing. */
  private[queries] def gopherQualityCols(df: DataFrame): DataFrame = df
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
  private[queries] def gopherBaseKeep: org.apache.spark.sql.Column = {
    val meanWl = col("sum_wl").cast("double") / col("n_words").cast("double")
    col("n_words").between(30, 100000) &&
      meanWl >= 3.0 && meanWl <= 10.0 &&
      col("alpha_frac") >= 0.8 && col("stop_hits") >= 1
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

  /** Learned BPE merges (top-2000 word histogram, 24 merges), learned
    * once per dir — the MlQueries share-the-fit contract: Verify runs
    * the Spark query and generates the oracle in the same JVM, so both
    * read the identical merge table no matter how ties fell. */
  private def learnedMerges(s: SparkSession, d: String): Seq[Bpe.Merge] =
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

  val all: Seq[Q] = Seq(

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
  )
}
