package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}
import graft.llm.{Dedup, Similarity, TextOps}

/** The dedup family (dd): exact, MinHash/LSH, SimHash, n-gram and
  * prefix-filter Jaccard, embedding and semantic near-dup, dup groups
  * and incremental dedup, each with a DuckDB oracle. */
object DedupQueries extends Q.Registry {
  import Corpus.{corpus, corpusSql, truncateLastWord}
  import SearchQueries.labelCentroids

  /** Shared shingle-set + minhash SQL mirror (k=9 sigs, 3 bands x 3). */
  private[queries] val MinhashK = 9
  private[queries] val Bands = 3
  private[queries] val RowsPerBand = 3
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

  /** The dd3 pipeline up to Jaccard-verified pairs: shingles → MinHash
    * sig → banded LSH candidates (shuffle on band key, never all-pairs)
    * → exact shingle-Jaccard >= 0.6.
    *
    * The CACHED verified-pairs frame, one per (session, dir) in
    * [[Artifacts]]: dd3 emits these pairs, dd7 and dd8 group them —
    * three queries, one pipeline. Production computes the verify ONCE
    * and feeds every consumer (the r8 llm3/dd10 shared-materialization
    * precedent; the reference's notebook computes df_analysis once,
    * cell 0), so the session-lifetime cache is the honest steady state,
    * same policy as [[graft.Tables.load]]. The pairs frame is
    * dup-structure-sized (3 columns, one row per verified near-dup
    * pair), orders of magnitude under the corpus — cacheable at any
    * scale the dedup result itself is usable at. BenchScale releases it
    * before every timed run, so its dd_groups/dd_star legs RE-RUN the
    * pipeline and the end-to-end scale cost stays measured. */
  private[graft] def verifiedPairsShared(s: SparkSession, d: String): DataFrame =
    Artifacts.frame(s, d, "verified_pairs") {
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

  /** DuckDB mirror of [[verifiedPairsShared]] as a WITH prefix ending in the
    * `verified(doc_a, doc_b, jaccard)` CTE. */
  private[queries] def verifiedPairsSql: String = corpusSql + shinglesSql +
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

  /** dd11's oracle building block: shingles → MinHash sig (as a LIST)
    * → exploded band keys for one side, as `<alias>_b`. Mirrors
    * [[graft.llm.Dedup.signDocs]] over an arbitrary source CTE. */
  private[queries] def signSqlFor(src: String, alias: String): String =
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
    // 'trained' centroids, truncated per element exactly as ss2
    val centroids = labelCentroids(corpus)
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
  private[queries] def semDedupCoreSql: String =
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
  )
}
