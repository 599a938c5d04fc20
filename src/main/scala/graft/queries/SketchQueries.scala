package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.TextOps
import graft.ops.Sketches

/** The sketch family (sk): KMV, HLL, count-min, Bloom and sample
  * quantiles; each oracle replays the sketch content itself. */
object SketchQueries extends Q.Registry {

  val all: Seq[Q] = Seq(

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
  )
}
