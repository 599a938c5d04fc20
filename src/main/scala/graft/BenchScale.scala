package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, Similarity, TextOps}
import graft.ops.Windows

/** Scale-up stress bench: measures how the engine's data-dominated
  * operator shapes grow when the INPUT grows 1× → 10× → 100×, on the
  * same host and plan. The per-query suite (graft.Bench at sf0.1) is
  * overhead-dominated — 100k-row facts finish in scheduler time, so it
  * proves correctness-speed, not scaling. This main answers the
  * question the 100 TB brief actually asks ("would this survive a
  * 100× scale-up?") with measured wall-clock: if a shape is
  * shuffle-bounded and interaction-free its time must grow ≲ linearly
  * with the factor; anything quadratic (an all-pairs join, a
  * cross-replica candidate explosion) shows up as a ≫f ratio at f=100.
  *
  * Inflation is deterministic replication of the sf tables with the
  * replica id folded into every key so cardinalities scale exactly:
  *  - events ×f: `event_id*f+rep` (unique), `ts + rep days` (time
  *    range grows, per-hour density constant — the realistic fact-
  *    growth axis), station ids unchanged (dimensions don't grow);
  *  - documents ×f: `doc_id*f+rep`, every WORD prefixed `r{rep}_` so
  *    within-replica near-dup structure is preserved EXACTLY (shingle
  *    set relations are isomorphic under the per-replica token map)
  *    while cross-replica Jaccard is 0 — near-dup pairs therefore
  *    scale exactly ×f, and the run REQUIREs it (see invariants);
  *  - embeddings ×f: `vec_id*f+rep`, vectors unchanged (ANN cost is
  *    rows × dim, independent of values).
  *
  * Legs (each the data-dominated core of a committed query shape):
  *  - w_window:    lag-rate + null-gap ffill/bfill over per-station
  *                 event windows (w1/w3) — one window shuffle;
  *  - j_hourly:    hourly weather roll-up joined back to the fact +
  *                 per-station agg (j2) — agg + join shuffles;
  *  - a_pivot:     station × hour-of-day pivot (a3) — partial aggs;
  *  - dd_exact:    md5 exact dedup (dd1) — one hash shuffle;
  *  - dd_lsh:      shingle → MinHash(9) → 3-band LSH candidates →
  *                 exact-Jaccard ≥ 0.6 verify (dd3) — map-heavy plus
  *                 a band-key equi-join, never all-pairs;
  *  - dd_groups:   the dd7 pipeline END-TO-END: LSH verified pairs
  *                 (re-run, not reused from dd_lsh) + the connected-
  *                 components rounds — its time is candidates+verify
  *                 PLUS the per-round keyed joins;
  *  - tx_quality:  token/quality/langid/fingerprint (tx1-tx3) — pure
  *                 codegen map, the linear floor the others chase;
  *  - a_median:    per-slice exact histogram median (a1) — map-side
  *                 combine collapses repeated values, so the shuffled
  *                 histogram is constant-size and time grows ≪ f;
  *  - ss_brute:    exact cosine top-k of 25 broadcast queries against
  *                 the inflated corpus (ss1) — rows × queries × dim;
  *  - dd_contam:   dd9's benchmark decontamination — the corpus gram
  *                 stream grows ×f against a FIXED broadcast benchmark
  *                 gram set (the replica-0 every-37th-doc slice), so
  *                 time is honestly ~linear (it is a pure map + gram
  *                 explode + broadcast semi-join, like tx_quality with
  *                 a join) and the flagged-doc rows must stay CONSTANT:
  *                 replica prefixes make a cross-replica gram collision
  *                 impossible, so any row growth IS an interaction;
  *  - dd_star:     dd8's large/small-star connected components on the
  *                 same re-run LSH pairs as dd_groups — the
  *                 O(log n)-round alternative's scale behavior measured
  *                 against hash-min's on identical input (≈2× constant
  *                 factor expected, same sublinear shape);
  *  - dd_semantic: dd10's SemDeDup core — within-cell pairwise cosine
 *                 over the inflated embeddings, with the cell id made
 *                 replica-aware (cell = label·f + rep): exactly the
 *                 paper's scale contract ("k grows with the corpus so
 *                 cells stay constant-sized"), so pair work grows ×f,
 *                 never ×f²; a dup_of pointing across replicas would
 *                 be an interaction and is REQUIREd absent;
 *  - tx_linededup: tx9's line-level dedup — replica-prefixed
 *                 boilerplate planted post-inflation, so each
 *                 replica's common-line set crosses the threshold
 *                 independently and total removals must scale ×f
 *                 exactly (the returned count IS sum(n_removed));
 *  - tx_dsir:     tx10's DSIR scoring — the hashed-bucket LLR table
 *                 must stay ≤ its FIXED 256 rows while the corpus
 *                 grows ×f (REQUIREd), which is the broadcast-always
 *                 claim; scoring time is two corpus scans + a
 *                 broadcast join, honestly ~linear;
 *  - tx_bpe:      tx11's BPE pipeline end-to-end — histogram (top-K
 *                 BOUNDED regardless of factor) + driver merge learn +
 *                 the merge-kernel tokenization map stage; output
 *                 rows ×f, the learn stage's input capped by topK;
 *  - ss_bm25:     ss4's BM25 with a FIXED replica-0 query — the
 *                 corpus token stream grows ×f but the posting
 *                 fragment stays replica-0-sized (prefixed tokens
 *                 cannot match), so hits are CONSTANT and the measured
 *                 growth is the pre-shuffle filter scan, honestly
 *                 ~linear;
 *  - tx_lm:       tx12's hashed-bigram LM — train on the inflated
 *                 target slice + score the inflated corpus; both LM
 *                 tables must stay within their bucket-space bounds
 *                 (REQUIREd ≤ B² / ≤ B rows — the broadcast-always
 *                 claim), scored rows ×f;
 *  - dd_incr:     dd11's incremental dedup — a FIXED new batch
 *                 (replica-0 truncated replays) checked against the
 *                 signature table of the ×f corpus: matches must stay
 *                 CONSTANT (replica prefixes make cross-replica
 *                 signature agreement impossible) while the existing
 *                 side of the band join grows — the claim that a
 *                 batch's dedup cost scales with the batch plus a
 *                 keyed join, not a corpus re-scan;
 *  - x_logit:     tx14's IRLS fit over the ×f featurized corpus —
 *                 the gram payload is a fixed (p+1)² no matter the
 *                 factor, so time must grow ≲ linearly with rows and
 *                 the coefficient layout is REQUIREd finite/stable in
 *                 width;
 *  - x_gram:      the x10/x17 one-pass OLS ladder (GramOls) over the
  *                 inflated fact — a ~26-coefficient design (numeric +
  *                 hour dummies), so the treeAggregate pays ~700
  *                 FMA/row with NO shuffle; the fit count and
  *                 coefficient layout are factor-invariant (REQUIREd)
  *                 and time must grow ≲ linearly, closing the "would
  *                 the ladder survive 100×?" claim with wall-clock.
  *
  *  - a_funnel:    a12's 3-stage windowed funnel on replica-unique
  *                 users — counts REQUIREd exactly ×f (isomorphic
  *                 replicas ⇒ identical rates by arithmetic);
  *  - w_sessionize: w7's gap sessionization + rollup on replica-unique
  *                 users — session rows REQUIREd exactly ×f;
  *  - mm_imagededup: mm9's dHash + banded-hamming image dedup with the
  *                 formula pixels computed in executors (the codec leg
  *                 is priced elsewhere) — replicas get distinct
  *                 gradient families and the 15 planted pairs per
  *                 replica are REQUIREd recovered exactly ×f;
  *  - x_ranktest:  x18+x19's midrank tests — the distinct-value
  *                 HISTOGRAM state and the 25-group outputs REQUIREd
  *                 CONSTANT while rows grow ×f (the value-universe
  *                 boundedness claim; continuous columns must be
  *                 quantized first — StatTests scaladoc).
  *
  * Row-count invariants, REQUIREd at every factor: w_window/dd_exact/
  * tx_quality output exactly f × their 1× rows; j_hourly/a_pivot/
  * ss_brute outputs are dimension-sized and must stay CONSTANT across
  * factors. dd_lsh/dd_groups are exactly-linear in their TRUE near-dup
  * structure but pass it through banded MinHash — a probabilistic
  * filter whose hash values differ per replica (the signatures hash the
  * prefixed shingles), so per-replica RECALL wobbles slightly: their
  * counts must land within 5% of f × baseline, and dd_lsh additionally
  * REQUIREs zero cross-replica pairs (doc_id % f recovers the replica),
  * which is the exact interaction-free claim — a candidate explosion
  * would surface there and in the time ratio, not in verified rows.
  *
  * Methodology: factors ascend; the 1× pass doubles as JVM/codegen/
  * page-cache warm-up (it runs twice, min kept; larger factors run
  * once — at 10×+ the work is data-dominated and a second run would
  * double the wall-clock for a cosmetic refinement). One JSON object
  * to `SPARK_GRAFT_SCALEBENCH_OUT` (default `bench_scale.json`) with
  * per-leg seconds, rows, and time ratios vs 1×.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE_FACTORS (default "1,10,100"), SPARK_GRAFT_CPUS.
  */
object BenchScale {

  /** events ×f with unique event ids and a time range growing ×f. */
  def inflateEvents(ev: DataFrame, f: Int): DataFrame =
    ev.crossJoin(org.apache.spark.sql.functions.broadcast(
        spark(ev).range(f).select(col("id").as("rep"))))
      .withColumn("event_id", col("event_id") * f + col("rep"))
      .withColumn("ts",
        col("ts") + make_dt_interval(col("rep").cast("int"), lit(0), lit(0), lit(0)))
      .drop("rep")

  /** events ×f with replica-unique USERS: the same shift-by-rep-days
    * time axis as [[inflateEvents]], but user_id (when non-null) also
    * becomes replica-unique — every replica is an ISOMORPHIC copy of
    * the original user population (per-user event sequences, gaps and
    * funnel windows are preserved under the uniform whole-day shift),
    * so user-keyed session/funnel operators must produce EXACTLY f ×
    * their 1× output. Without the remap, one user's replicas would
    * interleave on the shared id and the outputs would not replicate. */
  def inflateEventsUsers(ev: DataFrame, f: Int): DataFrame =
    ev.crossJoin(org.apache.spark.sql.functions.broadcast(
        spark(ev).range(f).select(col("id").as("rep"))))
      .withColumn("event_id", col("event_id") * f + col("rep"))
      .withColumn("user_id", col("user_id") * f + col("rep"))
      .withColumn("ts",
        col("ts") + make_dt_interval(col("rep").cast("int"), lit(0), lit(0), lit(0)))
      .drop("rep")

  /** documents ×f with replica-unique doc ids and token spaces: every
    * word gets an `r{rep}_` prefix, so within-replica shingle-set
    * relations (and thus Jaccard/MinHash/LSH behavior) are isomorphic
    * to the original corpus while cross-replica similarity is zero. */
  def inflateDocuments(docs: DataFrame, f: Int): DataFrame =
    docs.crossJoin(org.apache.spark.sql.functions.broadcast(
        spark(docs).range(f).select(col("id").as("rep"))))
      .withColumn("doc_id", col("doc_id") * f + col("rep"))
      .withColumn("text",
        array_join(
          transform(split(col("text"), "\\s+"),
            w => concat(lit("r"), col("rep").cast("string"), lit("_"), w)),
          " "))
      .drop("rep")

  /** embeddings ×f with replica-unique vector ids. */
  def inflateEmbeddings(emb: DataFrame, f: Int): DataFrame =
    emb.crossJoin(org.apache.spark.sql.functions.broadcast(
        spark(emb).range(f).select(col("id").as("rep"))))
      .withColumn("vec_id", col("vec_id") * f + col("rep"))
      .drop("rep")

  private def spark(df: DataFrame): SparkSession = df.sparkSession

  // ---- legs: each returns the materialized output row count.
  // NEVER `.count()` a frame whose computed columns are the work being
  // measured: Catalyst's column pruning ELIMINATES unreferenced window
  // and aggregate expressions under a count (the first run of this
  // bench timed w_window at 0.2 s on 10M rows — it was counting a
  // pruned scan, not running the windows). Every leg therefore anchors
  // each computed column in its final aggregate (sum/avg over it), so
  // the optimizer must execute exactly the work the leg names. --------

  private def wWindow(ev: DataFrame): Long = {
    val key = col("user_id")
    val order = Seq(col("ts"), col("event_id"))
    val gap = when(col("value") * 10 % 7 < 1, lit(null)).otherwise(col("value"))
    ev.select(
        (col("value") - Windows.lag1(col("value"), key, order: _*)).as("rate"),
        Windows.ffillThenBfill(gap, key, order: _*).as("filled"))
      .agg(count(lit(1)), sum("rate"), sum("filled"))
      .head().getLong(0)
  }

  private def jHourly(ev: DataFrame): Long = {
    val weather = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_key"))
      .agg(avg("value").as("temperature"))
    ev.withColumn("hour_key", date_trunc("hour", col("ts")))
      .join(weather, Seq("hour_key"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), avg("value").as("v"),
        avg("temperature").as("t"))
      .agg(count(lit(1)), sum("n"), sum("v"), sum("t"))
      .head().getLong(0)
  }

  private def aPivot(ev: DataFrame): Long = {
    val pivoted = ev.groupBy(col("user_id"))
      .pivot(hour(col("ts")), 0 until 24)
      .agg(avg("value"))
    val anchors = (0 until 24).map(h => sum(col(h.toString)))
    pivoted.agg(count(lit(1)), anchors: _*).head().getLong(0)
  }

  private def ddExact(docs: DataFrame): Long =
    Dedup.exactDedup(docs, "text", "doc_id")
      .agg(count(lit(1)), sum("n_copies"), max("keep_id"))
      .head().getLong(0)

  /** The dd3 verified-pairs core (k=9 sigs, 3 bands × 3, Jaccard ≥ 0.6
    * on distinct 3-shingles) on an arbitrary (doc_id, text) frame —
    * the SAME shape DedupQueries.verifiedPairsShared ships: cache ONLY the
    * banded frame (doc_id + band keys, a few dozen bytes/doc) and
    * recompute shingle sets per set-join arm. Caching sh_set alongside
    * would both diverge from the measured query and pin a ~GB-sized
    * columnar cache at 100×. Returns (cached banded frame, verified
    * pairs); the caller MUST unpersist the first once the second is
    * consumed so three factors don't stack in executor storage. */
  private def ddLshPairs(docs: DataFrame): (DataFrame, DataFrame) = {
    val shingled = docs
      .withColumn("ws", TextOps.words(col("text")))
      .withColumn("sh", TextOps.wordShingles(col("ws"), 3))
    val banded = shingled
      .withColumn("sig", Dedup.minhashSig(col("sh"), 9))
      .withColumn("bands", Dedup.bandKeys(col("sig"), 3, 3))
      .select("doc_id", "bands")
      .cache()
    val pairs = Dedup.lshCandidatePairs(banded, "doc_id", "bands")
    val sets = shingled.select(col("doc_id"), array_distinct(col("sh")).as("sh_set"))
    val verified = pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b")), Seq("doc_b"))
      .filter(Dedup.jaccard(col("set_a"), col("set_b")) >= 0.6)
      .select("doc_a", "doc_b")
    (banded, verified)
  }

  /** The dd12 exact-recall prefix-filter similarity join
    * (Dedup.prefixFilterPairs, bigram sets, Jaccard ≥ 0.6) over an
    * inflated corpus. Replica-prefixed token spaces keep true pairs
    * within a replica, so the EXACT algorithm must reproduce them ×f
    * precisely (no Approx wobble — there is no recall knob) and never
    * emit a cross-replica pair (REQUIREd); the prefix self-join's
    * collision volume is the scaling hazard (per-replica gram spaces
    * are disjoint, so it must grow ~×f, not ×f²). The observed
    * candidate_rows (collision rows surviving the scalar filters =
    * verification-kernel evaluations) is logged per factor on the
    * same pass, so candidate growth is auditable alongside wall-clock.
    * The collision join's build side grows ×f (prefix rows carry their
    * doc's gram array), so its partition count scales with f exactly
    * as a real deployment's shuffle.partitions would — ~32 MB of build
    * per task at any factor. */
  private def ddPrefix(name: String, docs: DataFrame, f: Int): Long = {
    val base = docs.withColumn("ws", TextOps.words(col("text")))
      .withColumn("grams", array_distinct(TextOps.wordShingles(col("ws"), 2)))
      .select(col("doc_id"), col("grams"))
    val obs = org.apache.spark.sql.Observation(s"${name}_stats_$f")
    val out = Dedup.prefixFilterPairs(base, "doc_id", "grams", 0.6,
      stats = Some(obs),
      collisionPartitions = Some(math.min(512, 32 * f))).cache()
    try {
      val n = out.count()
      System.err.println(s"[scalebench] $name $f×: candidate_rows=" +
        s"${obs.get.getOrElse("candidate_rows", -1L)} verified_pairs=$n")
      val cross = out
        .filter(pmod(col("doc_a"), lit(f)) =!= pmod(col("doc_b"), lit(f)))
        .count()
      require(cross == 0L, s"$name at $f×: $cross cross-replica pairs")
      n
    } finally out.unpersist(blocking = false)
  }

  private def ssBrute(emb: DataFrame, queries: DataFrame): Long =
    Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", k = 10).count()

  /** The a1 exact-median core (ops/MedianHistogram — the SAME code the
    * query ships): per-slice exact median of `value` over the
    * inflated fact. The shape's scale claim, measured: replication
    * repeats the same values, so the map-side partial agg collapses
    * duplicates and the shuffled histogram stays CONSTANT-size while
    * the scan grows ×f — time must grow ≪ f (Spark's Percentile
    * aggregate would instead buffer a per-group count-map in one
    * reducer task, growing that task's heap with the fact). */
  private def aMedian(ev: DataFrame): Long = {
    val ranked = graft.ops.MedianHistogram.ranked(
      ev.select(
        explode(array((col("event_id") % 2 === 0).cast("string"), lit("all"))).as("slice"),
        col("value").as("v")))
    ranked.groupBy("slice").agg(
      graft.ops.MedianHistogram.vLoAgg.as("v_lo"),
      graft.ops.MedianHistogram.vHiAgg.as("v_hi"))
      .agg(count(lit(1)),
        sum(graft.ops.MedianHistogram.interpolate(col("v_lo"), col("v_hi"))))
      .head().getLong(0)
  }

  /** The x10/x17 gram-ladder core (ml/GramOls — the SAME code the
    * queries ship) on the inflated fact: one shared treeAggregate scan
    * builds the full-design gram, two nested formulas read their
    * sub-blocks off it. Derived features are deterministic functions of
    * the replicated columns, so every replica contributes identical
    * gram mass and the fitted coefficient VALUES are factor-invariant
    * (a per-coordinate average does not move under exact replication) —
    * the returned count anchors the coefficient layout. */
  private def xGram(ev: DataFrame): Long = {
    val frame = ev.select(
      col("value").as("y"),
      (col("value") * col("value")).as("x1"),
      sin(col("value") * 5.0).as("x2"),
      hour(col("ts")).cast("string").as("h"))
    val fits = graft.ml.GramOls.ladderInfer(
      frame, Seq("y ~ x1 + h", "y ~ x1 + x2 + h"), Set("h"))
    require(fits.values.forall(f =>
        f.score.terms.forall(t => java.lang.Double.isFinite(t.coef))),
      "x_gram: non-finite coefficient")
    fits.values.map(_.score.terms.length.toLong).sum
  }

  /** The dd10 SemDeDup core (llm/Dedup.semanticDups — the SAME code
    * the query ships) with replica-aware cells (cell = label·f + rep):
    * the cluster count scales with the corpus, cells stay ~50 rows, so
    * within-cell pair generation grows ×f. The sum anchors both the
    * similarity fold and the dup decision; any dup_of crossing a
    * replica boundary would be a cross-replica interaction. */
  private def ddSemantic(emb: DataFrame, f: Int): Long = {
    val cellCorpus = emb.withColumn("cell",
      (col("label").cast("long") * f + pmod(col("vec_id"), lit(f))).cast("long"))
    val out = Dedup.semanticDups(cellCorpus, "vec_id", "embedding", "cell", tau = 0.9)
    val r = out.agg(
      count(lit(1)),
      sum(when(col("is_semantic_dup"), 1L).otherwise(0L)),
      sum("max_sim_lower"),
      sum(when(col("dup_of").isNotNull &&
        pmod(col("dup_of"), lit(f)) =!= pmod(col("vec_id"), lit(f)), 1L)
        .otherwise(0L))).head()
    require(r.getLong(3) == 0L,
      s"dd_semantic at $f×: ${r.getLong(3)} cross-replica dup links")
    r.getLong(0)
  }

  /** The tx9 line-dedup core (llm/Dedup.lineDedup — the SAME code the
    * query ships): boilerplate planted AFTER inflation with an r{rep}_
    * prefix, so each replica's common lines cross the minDocs
    * threshold independently and total removals are exactly ×f. The
    * returned count IS sum(n_removed) — a stronger linearity witness
    * than the (trivially ×f) doc count. */
  private def txLineDedup(docs: DataFrame, f: Int): Long = {
    val orig = expr(s"doc_id div $f")
    val rep = pmod(col("doc_id"), lit(f)).cast("string")
    val lined = docs.select(col("doc_id"),
      concat(col("text"),
        when(orig % 3 === 0,
          concat(lit("\nr"), rep, lit("_follow us on social media for updates"))).otherwise(lit("")),
        when(orig % 5 === 0,
          concat(lit("\nr"), rep, lit("_all rights reserved worldwide"))).otherwise(lit("")))
        .as("text"))
    Dedup.lineDedup(lined, "doc_id", "text", minDocs = 5)
      .agg(count(lit(1)), sum("n_removed"), sum(length(col("clean_text"))))
      .head().getLong(1)
  }

  /** The tx10 DSIR core (llm/Importance — the SAME code the query
    * ships): the hashed-unigram LLR table must stay within its FIXED
    * 256 buckets no matter the corpus factor (the broadcast-always
    * claim), REQUIREd; per-doc scoring rows grow ×f. */
  private def txDsir(docs: DataFrame, f: Int): Long = {
    val target = expr(s"doc_id div $f") % 5 === 0
    val ratios = graft.llm.Importance
      .bucketLogRatios(docs, "text", target, buckets = 256).cache()
    try {
      val nBuckets = ratios.count()
      require(nBuckets <= 256L,
        s"tx_dsir at $f×: bucket table grew past its bound ($nBuckets > 256)")
      graft.llm.Importance
        .docLogWeights(docs, "doc_id", "text", ratios, buckets = 256)
        .agg(count(lit(1)), sum("log_weight_raw"), sum("n_words"))
        .head().getLong(0)
    } finally ratios.unpersist(blocking = false)
  }

  /** The tx11 BPE core (llm/Bpe — the SAME code the query ships):
    * histogram → learn → tokenize with the one-expression merge kernel
    * ([[graft.functions.BpeTokenize]], the call tx11 makes). The learn
    * input is capped by topK no matter the corpus factor (the
    * aggregate-before-ML bound), so only the histogram aggregation and
    * the tokenization map stage grow with f. */
  private def txBpe(docs: DataFrame, f: Int): Long = {
    val merges = graft.llm.Bpe.learn(
      graft.llm.Bpe.wordHistogram(docs, "text", topK = 2000), numMerges = 24)
    val toked = graft.functions.BpeTokenize.tokenize(
      graft.llm.Bpe.stripSep(lower(col("text"))), merges)
    docs.select(graft.llm.Bpe.tokenCount(toked).as("nt"))
      .agg(count(lit(1)), sum("nt")).head().getLong(0)
  }

  /** The ss4 BM25 core (llm/Search — the SAME code the query ships)
    * with a replica-0 query: inflation prefixes every token, so the
    * posting fragment (and the hit set) stays replica-0-sized while
    * the scanned token stream grows ×f — the leg measures the
    * pre-shuffle filter, which is the design's whole point. Returns
    * the hit count (constant across factors). */
  private def ssBm25(docs: DataFrame, f: Int): Long = {
    val terms = Seq("r0_hash", "r0_join", "r0_dup")
    // cache: the timed pipeline must run ONCE — the stat row and the
    // cross-replica check below are two actions over the same 10 rows
    val hits = graft.llm.Search
      .bm25TopK(docs, "doc_id", "text", terms, k = 10).cache()
    try {
      val r = hits.agg(count(lit(1)), sum("score"), sum("n_terms_matched")).head()
      // every hit must come from replica 0 — a prefixed token matching a
      // foreign replica's query would be a tokenizer interaction
      val foreign = hits.filter(pmod(col("doc_id"), lit(f)) =!= 0).count()
      require(foreign == 0L, s"ss_bm25 at $f×: $foreign non-replica-0 hits")
      r.getLong(0)
    } finally hits.unpersist(blocking = false)
  }

  /** The tx12 LM core (llm/LangModel — the SAME code the query
    * ships): train on the inflated target slice, score the inflated
    * corpus. The LM tables must stay within their bucket-space bounds
    * regardless of factor — the broadcast-always claim, REQUIREd. */
  private def txLm(docs: DataFrame, f: Int): Long = {
    val B = 256
    val target = docs.filter(expr(s"doc_id div $f") % 5 === 0)
    val (plp, bo) = graft.llm.LangModel.train(target, "doc_id", "text", B)
    val plpC = plp.cache(); val boC = bo.cache()
    try {
      val nPairs = plpC.count(); val nCtx = boC.count()
      require(nPairs <= B.toLong * B && nCtx <= B.toLong,
        s"tx_lm at $f×: LM tables outgrew the bucket space ($nPairs pairs, $nCtx contexts)")
      graft.llm.LangModel.scoreDocs(docs, "doc_id", "text", plpC, boC, B,
        floorLogp = math.log(1.0 / B))
        .agg(count(lit(1)), sum("avg_logp_raw"), sum("n_bigrams"))
        .head().getLong(0)
    } finally {
      plpC.unpersist(blocking = false); boC.unpersist(blocking = false)
      graft.llm.Dedup.releaseCheckpoint(plp)
    }
  }

  /** The dd11 incremental-dedup core (llm/Dedup.signDocs +
    * incrementalNearDups — the SAME code the query ships): a FIXED
    * batch of replica-0 truncated replays against the inflated
    * corpus's signature table. Replica prefixes make a cross-replica
    * signature collision impossible, so the match count must not move
    * with f; the growing cost is signing the corpus + the band join's
    * existing side. */
  private def ddIncr(docs: DataFrame, f: Int): Long = {
    val batch = docs
      .filter(pmod(col("doc_id"), lit(f)) === 0 && expr(s"doc_id div $f") % 50 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        regexp_replace(col("text"), "[ \\t\\n\\x0B\\f\\r]+[^ \\t\\n\\x0B\\f\\r]+$", "").as("text"))
    val ex = Dedup.signDocs(docs, "doc_id", "text", 9, 3, 3)
    // cache: three plan arms read the signed batch (see the library doc)
    val nw = Dedup.signDocs(batch, "doc_id", "text", 9, 3, 3).cache()
    val out = Dedup.incrementalNearDups(ex, "doc_id", nw, "doc_id", 0.5).cache()
    try {
      val n = out.agg(count(lit(1)), sum("sig_sim")).head().getLong(0)
      val foreign = out
        .filter(col("matched_side") === "existing" &&
          pmod(col("matched_doc"), lit(f)) =!= 0).count()
      require(foreign == 0L, s"dd_incr at $f×: $foreign cross-replica matches")
      n
    } finally {
      out.unpersist(blocking = false)
      nw.unpersist(blocking = false)
    }
  }

  /** j9's keyless as-of FORCED onto the range-partitioned arm (r8
    * verdict ask #3): maxBroadcastRows = 0 disables the broadcast fast
    * path, and the time axis is SKEWED — 75% of events bunch into a
    * 50k-tick head while the rest strew over a 100×-wider tail — to
    * stress the approx-quantile bucketing. Three invariants run inside
    * the leg: output ≡ the broadcast arm (exact integral checksums —
    * the payload is a long sum, so cross-path float ordering cannot
    * alias a real difference), per-bucket row spread bounded (the
    * balance claim behind ops/AsOf.scala's bucketed path), and the
    * harness's Linear rows check (one output row per event). */
  private def asGlobal(ev: DataFrame, f: Int): Long = {
    val buckets = 32
    val l = ev.select(col("event_id"),
      when(col("event_id") % 4 < 3, pmod(col("event_id"), lit(50000L)))
        .otherwise(lit(5000000L) + col("event_id")).as("t"),
      col("event_id").as("v"))
    val r = l.filter(col("event_id") % 37 === 0)
      .groupBy("t").agg(sum("v").as("cpv")) // unique times by construction
    def run(maxBroadcastRows: Long): org.apache.spark.sql.Row =
      graft.ops.AsOf.asofBackwardGlobal(l, r, "t", "t", Seq("cpv"),
          buckets = buckets, maxBroadcastRows = maxBroadcastRows)
        .agg(count(lit(1)), count(col("asof_cpv")), sum(col("asof_cpv")))
        .head()
    val part = run(0L) // the arm under test
    val bcast = run(10000000L) // the oracle arm (right side fits at any f here)
    require(part == bcast, s"as_global at $f×: partitioned $part != broadcast $bcast")
    // the balance claim, measured: the same approx-quantile recipe the
    // operator uses must spread the skewed axis ~evenly over the buckets
    val union = l.select("t").unionByName(r.select("t"))
    val cuts = union.select(col("t").cast("double").as("td"))
      .stat.approxQuantile("td",
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
      .distinct.sorted
    val bucketOf = cuts.zipWithIndex
      .foldRight(lit(cuts.length): org.apache.spark.sql.Column) {
        case ((c, i), rest) => when(col("t").cast("double") < c, i).otherwise(rest)
      }
    val perBucket = union.groupBy(bucketOf.as("b")).agg(count(lit(1)).as("n"))
      .select("n").collect().map(_.getLong(0))
    val spread = perBucket.max.toDouble / (perBucket.sum.toDouble / perBucket.length)
    require(spread <= 1.5,
      f"as_global at $f×: bucket spread $spread%.2f exceeds 1.5 " +
        s"(per-bucket ${perBucket.mkString(",")})")
    part.getLong(0)
  }

  /** The tx14 IRLS core (ml/Logistic — the SAME code the query
    * ships): featurize the inflated corpus (64 hashed buckets) and run
    * the 4-iteration fit; the gram payload is fixed-size, so only the
    * per-row work grows. The returned count anchors the coefficient
    * width; finiteness is REQUIREd. */
  private def xLogit(docs: DataFrame, f: Int): Long = {
    val labeled = graft.ml.Logistic
      .hashedFeatures(docs, "doc_id", "text", 64)
      .withColumn("__y", (pmod(col("doc_id"), lit(5L)) === 0).cast("double"))
    val fit = graft.ml.Logistic.fitIrls(labeled, "feats", "__y", p = 64)
    require(fit.coefs.forall(java.lang.Double.isFinite),
      s"x_logit at $f×: non-finite coefficient")
    require(fit.deviances.zip(fit.deviances.tail).forall { case (a, b) => b <= a + 1e-6 },
      s"x_logit at $f×: deviance not decreasing (${fit.deviances})")
    fit.coefs.length.toLong
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALEBENCH_OUT", "bench_scale.json")
    val legFilter = sys.env.get("SPARK_GRAFT_SCALE_LEGS")
      .map(_.split(",").map(_.trim).toSet)
    require(factors.headOption.contains(1), "factors must start at 1 (the baseline)")
    val session = LocalRun.session(cpus.toInt)

    val events = Tables.events(session, sfDir)
    val documents = Tables.documents(session, sfDir).select("doc_id", "text")
    val embeddings = Tables.embeddings(session, sfDir).select("vec_id", "embedding")
    val embeddingsL = Tables.embeddings(session, sfDir)
      .select("vec_id", "embedding", "label")
    // fixed 25-query probe set, independent of the corpus factor
    val queries25 = embeddings.filter(col("vec_id") < 25)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .cache()
    require(queries25.count() == 25, "expected vec_id 0..24 in embeddings")

    // tx_bpe_vocab fixtures: the real corpus has ~31 distinct words, so
    // merge learning exhausts at ~90 rules — far too shallow to stress a
    // production-depth vocabulary. Re-express each document as 40
    // nine-hex-char pseudo-words derived from its doc_id (the byte-level
    // BPE regime: a 16-symbol alphabet with uniform digram statistics,
    // where merges go thousands deep and every one of them genuinely
    // applies to the corpus). The leg reuses the harness factor as the
    // MERGE-COUNT multiplier (20·f = 20 → 200 → 2000 rules) on this
    // FIXED corpus: rows must stay constant, and the time ratio is the
    // flat-per-row-cost claim of llm/BpeKernel — the replace chain this
    // kernel replaces is O(#merges) per row by construction, so its
    // ratio at 100× would be ~100, while the kernel's merge events are
    // bounded by document length no matter how deep the vocabulary.
    lazy val bpeHexCorpus: DataFrame = {
      val c = documents.select(col("doc_id"),
        array_join(transform(sequence(lit(1), lit(40)), i =>
          substring(md5(concat(col("doc_id").cast("string"), lit("_"), i.cast("string"))),
            1, 9)), " ").as("text")).cache()
      c.count() // materialize once, outside any timed leg
      c
    }
    lazy val bpeMergeLadder: Seq[graft.llm.Bpe.Merge] = {
      val hist = bpeHexCorpus
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("w")).limit(6000)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val t0 = System.nanoTime()
      val m = graft.llm.Bpe.learn(hist, 2000)
      System.err.println(f"[scalebench] tx_bpe_vocab ladder: ${m.size} merges " +
        f"learned in ${(System.nanoTime() - t0) / 1e9}%.1f s (outside timed legs)")
      m
    }

    // legName -> (runner, expectation): Linear outputs scale ×f,
    // Constant outputs are dimension-sized and must not move, Approx
    // tolerates per-replica LSH recall wobble around the ×f line
    sealed trait Growth; case object Linear extends Growth; case object Constant extends Growth
    case class Approx(tol: Double) extends Growth
    val legs: Seq[(String, Int => Long, Growth)] = Seq(
      ("w_window", (f: Int) => wWindow(inflateEvents(events, f)), Linear),
      ("j_hourly", (f: Int) => jHourly(inflateEvents(events, f)), Constant),
      ("a_pivot", (f: Int) => aPivot(inflateEvents(events, f)), Constant),
      ("dd_exact", (f: Int) => ddExact(inflateDocuments(documents, f)), Linear),
      ("dd_lsh", (f: Int) => {
        val (base, verified) = ddLshPairs(inflateDocuments(documents, f))
        try {
          val v = verified.cache()
          val n = v.count()
          // the exact interaction-free claim: a verified pair never
          // spans replicas (doc_id = orig*f + rep, so doc_id % f = rep)
          val cross = v.filter(pmod(col("doc_a"), lit(f)) =!= pmod(col("doc_b"), lit(f))).count()
          require(cross == 0L, s"dd_lsh at $f×: $cross cross-replica pairs")
          v.unpersist(blocking = false)
          n
        } finally base.unpersist(blocking = false)
      }, Approx(0.05)),
      ("dd_groups", (f: Int) => {
        val (base, verified) = ddLshPairs(inflateDocuments(documents, f))
        val pairs = verified.cache()
        try {
          val out = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
          val n = out.count()
          Dedup.releaseCheckpoint(out)
          n
        } finally {
          pairs.unpersist(blocking = false)
          base.unpersist(blocking = false)
        }
      }, Approx(0.05)),
      ("tx_quality", (f: Int) => {
        val d = inflateDocuments(documents, f)
          .withColumn("ws", TextOps.words(col("text")))
        d.select(
            TextOps.tokenCount(col("text")).as("toks"),
            TextOps.qualityScore(col("text"), col("ws")).as("q"),
            TextOps.langId(col("ws")).as("lang"),
            TextOps.fingerprint(col("text")).as("fp"))
          .agg(count(lit(1)), sum("toks"), sum("q"),
            sum(length(col("lang"))), sum("fp"))
          .head().getLong(0)
      }, Linear),
      ("a_median", (f: Int) => aMedian(inflateEvents(events, f)), Constant),
      ("ss_brute", (f: Int) => ssBrute(inflateEmbeddings(embeddings, f), queries25), Constant),
      ("dd_contam", (f: Int) => {
        val d = inflateDocuments(documents, f)
        // the dd9 shape with the benchmark pinned to the replica-0
        // every-37th-doc slice: doc_id = orig·f + rep, so rep 0 AND
        // orig % 37 == 0 ⟺ doc_id % (37·f) == 0. Replicas > 0 carry
        // r{rep}_-prefixed words, so their grams CANNOT collide with
        // the replica-0 benchmark — flagged rows must not move with f
        val isBench = col("doc_id") % lit(37L * f) === 0
        Dedup.contamination(
          d.filter(!isBench), "doc_id", "text",
          d.filter(isBench), "text", n = 8)
          .agg(count(lit(1)), sum("n_shared"))
          .head().getLong(0)
      }, Constant),
      ("dd_star", (f: Int) => {
        val (base, verified) = ddLshPairs(inflateDocuments(documents, f))
        val pairs = verified.cache()
        try {
          val out = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
          val n = out.count()
          Dedup.releaseCheckpoint(out)
          n
        } finally {
          pairs.unpersist(blocking = false)
          base.unpersist(blocking = false)
        }
      }, Approx(0.05)),
      ("x_gram", (f: Int) => xGram(inflateEvents(events, f)), Constant),
      ("dd_semantic", (f: Int) => ddSemantic(inflateEmbeddings(embeddingsL, f), f), Linear),
      ("tx_linededup", (f: Int) => txLineDedup(inflateDocuments(documents, f), f), Linear),
      ("tx_substr", (f: Int) => {
        // tx16's exact-substring dedup: replica-prefixed tokens keep
        // duplicated spans within a replica, so output rows replicate
        // x f and the gram/token shuffles are the legs' heaviest
        // linear shapes (one row per TOKEN)
        val out = Dedup.duplicateSpans(inflateDocuments(documents, f),
          "doc_id", "text", k = 8)
        out.agg(count(lit(1)), sum("n_removed_tokens"),
          sum(length(col("clean_text")))).head().getLong(0)
      }, Linear),
      ("dd_prefix", (f: Int) =>
        ddPrefix("dd_prefix", inflateDocuments(documents, f), f), Linear),
      ("dd_prefix_hot", (f: Int) => {
        // SKEW probe for dd_prefix (r11): every BASE document gains the
        // same two-token suffix before inflation, so each replica
        // carries a bigram present in EVERY one of its documents — the
        // hottest possible gram key (df = docs/replica, the worst case
        // a boilerplate footer creates in a real crawl). The prefix
        // filter's frequency-ASCENDING ordering ranks a universal gram
        // last in every document, so it enters a prefix only for
        // documents whose prefix spans their whole gram set (tiny m);
        // candidate volume and wall-clock must therefore TRACK
        // dd_prefix's, not square on the hot key — the structural
        // skew-resistance claim of rarest-first prefixes, measured
        // instead of asserted. Outputs stay ×f exactly (replica-
        // disjoint token spaces; the suffix shifts which planted pairs
        // clear 0.6 identically in every replica).
        ddPrefix("dd_prefix_hot", inflateDocuments(
          documents.withColumn("text",
            concat(col("text"), lit(" zzhota zzhotb"))), f), f)
      }, Linear),
      ("tx_dsir", (f: Int) => txDsir(inflateDocuments(documents, f), f), Linear),
      ("tx_bpe", (f: Int) => txBpe(inflateDocuments(documents, f), f), Linear),
      ("tx_bpe_vocab", (f: Int) => {
        val m = bpeMergeLadder.take(20 * f)
        require(m.size == 20 * f,
          s"tx_bpe_vocab at $f×: ladder exhausted at ${m.size} merges (need ${20 * f})")
        val toked = graft.functions.BpeTokenize.tokenize(col("text"), m)
        bpeHexCorpus
          .select(graft.llm.Bpe.tokenCount(toked).as("nt"))
          .agg(count(lit(1)), sum("nt")).head().getLong(0)
      }, Constant),
      ("ss_bm25", (f: Int) => ssBm25(inflateDocuments(documents, f), f), Constant),
      ("tx_lm", (f: Int) => txLm(inflateDocuments(documents, f), f), Linear),
      ("dd_incr", (f: Int) => ddIncr(inflateDocuments(documents, f), f), Constant),
      ("as_global", (f: Int) => asGlobal(inflateEvents(events, f), f), Linear),
      ("x_logit", (f: Int) => xLogit(inflateDocuments(documents, f), f), Constant),
      ("sk_sketch", (f: Int) => {
        // distinct-count sketches over the inflated bigram stream: the
        // input AND the true cardinality grow ×f (replica-prefixed
        // tokens make every replica's bigrams novel), while the
        // aggregation state stays k-/m-bounded per group — the payload
        // a 100 TB distinct-count ships. Output rows = the fixed group
        // count; the REQUIRE is the bounded-state claim itself.
        val d = inflateDocuments(documents, f)
        val toks = d.select(pmod(col("doc_id"), lit(5)).as("g"),
          explode(TextOps.wordShingles(TextOps.words(col("text")), 2)).as("tok"))
        val h = graft.ops.Sketches.hash60(col("tok"))
        // the sample sketch rides the same stream: value = token length
        // (a pure function of the token, so the duplicate-hash
        // keep-first rule is deterministic at any partitioning)
        val out = toks.groupBy("g").agg(
          graft.ops.Sketches.kmvSketch(h, 64).as("kmv"),
          graft.ops.Sketches.hllSketch(h, 8).as("hll"),
          graft.ops.Sketches.sampleSketch(h, length(col("tok")).cast("long"), 32)
            .as("smp")).cache()
        try {
          val chk = out
            .agg(max(size(col("kmv"))).as("mk"), max(size(col("hll"))).as("mh"),
              max(size(col("smp"))).as("ms"))
            .head()
          require(chk.getInt(0) <= 64 && chk.getInt(1) == 256 && chk.getInt(2) <= 32,
            s"sk_sketch at $f×: sketch state grew " +
              s"(kmv=${chk.getInt(0)}, hll=${chk.getInt(1)}, sample=${chk.getInt(2)})")
          out.count()
        } finally out.unpersist(blocking = false)
      }, Constant),
      ("dd_prefix_hot_global", (f: Int) => {
        // TRUE single-key skew probe (r12): the boilerplate suffix is
        // planted AFTER inflation, so ONE un-prefixed bigram
        // ("zzhota zzhotb") appears in EVERY doc of EVERY replica —
        // df = the whole corpus (500k at 100×), the one-key pathology
        // dd_prefix_hot's per-replica token map dilutes into f
        // distinct keys. The global gram still never enters any
        // PREFIX (frequency-ascending rank puts it last; every doc
        // has ≥ 3 grams), so verified pairs stay replica-consistent
        // ×f and no cross-replica candidate exists at the collision
        // join — but the df-attach join moves ALL of the hot key's
        // exploded rows through ONE reducer, which this leg prices.
        ddPrefix("dd_prefix_hot_global", inflateDocuments(documents, f)
          .withColumn("text", concat(col("text"), lit(" zzhota zzhotb"))), f)
      }, Linear),
      ("a_funnel", (f: Int) => {
        // a12's 3-stage windowed funnel (r17: one scan + one user-key
        // exchange, chained anchors as a window cascade) on
        // replica-unique users:
        // every replica is an isomorphic copy of the 1× user population
        // under a uniform whole-day shift, so ALL FOUR funnel counts
        // must be EXACTLY ×f — and the rates, being ratios of exactly-
        // ×f counts, are then identical by arithmetic (r11 gap #4: no
        // scale leg for the funnel's chained join topology)
        val fn = graft.ops.Funnel.funnel(
          inflateEventsUsers(events, f), "user_id", "ts", "event_type",
          Seq("click", "view", "purchase"), windowHours = 24)
        val r = fn.head()
        Seq("n_users", "n_click", "n_view_after_click",
            "n_purchase_after_view")
          .map(c => r.getLong(r.fieldIndex(c))).sum
      }, Linear),
      ("w_sessionize", (f: Int) => {
        // w7's gap sessionization + per-session rollup on replica-
        // unique users: gap comparisons are shift-invariant within a
        // replica, so session rollup rows must be EXACTLY ×f. NULL
        // users are excluded — null·f+rep stays null, so all replicas'
        // null-user events would merge into ONE window partition (both
        // a correctness confound and the exact skew a real pipeline
        // filters first).
        val sess = Windows.sessionize(
          inflateEventsUsers(events, f)
            .filter(col("user_id").isNotNull)
            .select(col("user_id"), col("ts"), col("event_type")),
          "user_id", "ts", gapSec = 21600L)
        sess.groupBy("user_id", "session_idx")
          .agg(count(lit(1)).as("n"),
            (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
              .as("dur"),
            sum((col("event_type") === "purchase").cast("long")).as("p"))
          .agg(count(lit(1)), sum("n"), sum("dur"), sum("p"))
          .head().getLong(0)
      }, Linear),
      ("x_ranktest", (f: Int) => {
        // x18/x19's midrank machinery at volume: aggregation state is
        // the DISTINCT-VALUE histogram — bounded by the VALUE UNIVERSE,
        // not the row count — the one scale assumption the r11 verdict
        // asked to pin with a REQUIREd invariant (a continuous column
        // at 100 TB breaks it: quantize first — StatTests scaladoc).
        // Replication keeps the universe fixed, so the histogram row
        // count and the 25-group test outputs must stay CONSTANT while
        // input rows grow ×f; the returned value sums all three.
        val d = inflateEvents(events, f)
          .filter(col("user_id").isNotNull)
          .select(pmod(col("user_id"), lit(25)).cast("int").as("g"),
            col("value").as("v"),
            hour(col("ts")).between(7, 19).as("flag"),
            col("event_type").as("seg"))
        val histRows = d.select("g", "v").distinct().count()
        val mwN = graft.stats.StatTests.mannWhitney(d, "v", col("flag"), "g")
          .agg(count(lit(1)), sum("u1"), sum("z")).head().getLong(0)
        val kwN = graft.stats.StatTests.kruskalWallis(d, "v", "seg", "g")
          .agg(count(lit(1)), sum("h")).head().getLong(0)
        histRows + mwN + kwN
      }, Constant),
      ("mm_imagededup", (f: Int) => {
        // mm9's ENGINE shape at ×f: the formula pixels are computed in
        // executors as Column arithmetic (the PNG codec leg is priced
        // by mm9 itself; this leg measures
        // the dedup topology — dHash packing + 4×16-bit banded
        // self-join + hamming verify — the part that must survive
        // 100×). Replicas get DISTINCT gradient families (a
        // rep-dependent pixel term), so cross-replica band collisions
        // are incidental and the PLANTED structure — 10 one-pixel
        // near-dups + 5 exact copies per replica — is the REQUIREd
        // linear invariant: the returned value counts exactly the
        // planted pairs recovered, 15 per replica, and banding cannot
        // miss them (hamming ≤ 1 ⇒ ≥ 3 of 4 bands equal).
        val n = 95
        val m = session.range(f.toLong * n).select(
            (col("id") % n).as("slot"),
            // Column `/` is fractional — floor to the replica index
            floor(col("id") / n).cast("long").as("rep"))
          .withColumn("lid",
            when(col("slot") < 80, col("slot") + 1)
              .when(col("slot") < 90, lit(100) + (col("slot") - 79))
              .otherwise(lit(120) + (col("slot") - 89)))
          .withColumn("src",
            when(col("lid") <= 80, col("lid"))
              .when(col("lid") <= 120, (col("lid") - 100) * 8)
              .otherwise(col("lid") - 120))
          .withColumn("pert", col("lid").between(101, 110))
          .withColumn("doc_id", col("rep") * 1000 + col("lid"))
        val px = m.withColumn("pixels",
          transform(sequence(lit(0), lit(287)), i => {
            val x = i % 18
            val y = floor(i / 18).cast("int")
            val base = (lit(3) * (col("src") % 7 + 1) * x +
              lit(5) * (col("src") % 11 + 1) * y + col("src") +
              lit(17) * col("rep") * (x + y + 1)) % 256
            when(col("pert") && i === 0, (base + 1) % 256).otherwise(base)
          }))
        val (lo, hi) = Multimodal.dhashHalves(col("pixels"))
        val hashes = px.select(col("doc_id"), lo.as("h_lo"), hi.as("h_hi"))
        val bands = hashes.select(col("doc_id"), col("h_lo"), col("h_hi"),
            explode(array(
              struct(lit(0).as("band"),
                col("h_lo").bitwiseAND(lit(65535L)).as("band_val")),
              struct(lit(1).as("band"),
                shiftright(col("h_lo"), 16).bitwiseAND(lit(65535L)).as("band_val")),
              struct(lit(2).as("band"),
                col("h_hi").bitwiseAND(lit(65535L)).as("band_val")),
              struct(lit(3).as("band"),
                shiftright(col("h_hi"), 16).bitwiseAND(lit(65535L)).as("band_val"))))
              .as("bk"))
          .select(col("doc_id"), col("h_lo"), col("h_hi"),
            col("bk.band").as("band"), col("bk.band_val").as("band_val"))
        val a = bands.select(col("band"), col("band_val"),
          col("doc_id").as("doc_a"), col("h_lo").as("lo_a"), col("h_hi").as("hi_a"))
        val b = bands.select(col("band"), col("band_val"),
          col("doc_id").as("doc_b"), col("h_lo").as("lo_b"), col("h_hi").as("hi_b"))
        val pairs = a.hint("shuffle_hash")
          .join(b.hint("shuffle_hash"), Seq("band", "band_val"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b", "lo_a", "hi_a", "lo_b", "hi_b")
          .dropDuplicates("doc_a", "doc_b")
          .filter(bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
            bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) <= 6)
        // expected planted pairs per replica: (8j, 100+j) j=1..10 and
        // (j, 120+j) j=1..5, both lifted by rep*1000
        val planted = m.filter(col("lid") > 100).select(
          (col("rep") * 1000 + col("src")).as("doc_a"),
          col("doc_id").as("doc_b"))
        pairs.join(planted.hint("shuffle_hash"), Seq("doc_a", "doc_b"))
          .count()
      }, Linear))
      .filter { case (name, _, _) => legFilter.forall(_.contains(name)) }

    val times = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.LinkedHashMap[Int, Double]]()
    val rows = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.LinkedHashMap[Int, Long]]()
    for (f <- factors; (name, run, growth) <- legs) {
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = run(f)
        ((System.nanoTime() - t0) / 1e9, n)
      }
      // 1× runs twice (JVM/codegen/page-cache warm-up, min kept); the
      // data-dominated larger factors run once
      val (t, n) = if (f == 1) {
        val (t1, n1) = once(); val (t2, n2) = once()
        require(n1 == n2, s"$name 1×: row count unstable across runs ($n1 vs $n2)")
        (math.min(t1, t2), n2) // min, as documented — a stall on either
                               // run must not skew every committed ratio
      } else once()
      val base = rows.get(name).flatMap(_.get(1))
      growth match {
        case Linear => base.foreach(b => require(n == b * f,
          s"$name at $f×: expected ${b * f} rows (interaction-free replication), got $n"))
        case Constant => base.foreach(b => require(n == b,
          s"$name at $f×: expected constant $b rows, got $n"))
        case Approx(tol) => base.foreach(b => require(
          math.abs(n - b.toDouble * f) <= b.toDouble * f * tol,
          s"$name at $f×: expected ~${b * f} rows (±${tol * 100}%), got $n"))
      }
      times.getOrElseUpdate(name, scala.collection.mutable.LinkedHashMap()).put(f, t)
      rows.getOrElseUpdate(name, scala.collection.mutable.LinkedHashMap()).put(f, n)
      System.err.println(f"[scalebench] $name%-10s ${f}%3d×  $t%8.2f s  (rows=$n)")
    }

    def fmt(d: Double): String = {
      val bd = java.math.BigDecimal.valueOf(d).setScale(4, java.math.RoundingMode.HALF_UP)
      bd.toPlainString
    }
    val legJson = legs.map { case (name, _, _) =>
      val t = times(name)
      val r = rows(name)
      val ts = factors.map(f => s""""$f":${fmt(t(f))}""").mkString(",")
      val rs = factors.map(f => s""""$f":${r(f)}""").mkString(",")
      val ratios = factors.filter(_ > 1)
        .map(f => s""""x$f":${fmt(t(f) / t(1))}""").mkString(",")
      s""""$name":{"sec":{$ts},"rows":{$rs},"ratio_vs_1x":{$ratios}}"""
    }.mkString(",")
    // ---- ANN recall-vs-cost curve (r7 verdict #8) --------------------
    // ss2/ss3's recall contracts are asserted at fixture scale; here the
    // accuracy-cost trade is MEASURED on the max-factor corpus: recall@10
    // against the brute-force ground truth as the probe budget grows
    // (IVF probed cells / LSH table count). Skippable via the leg filter
    // under the pseudo-leg name "ann_recall".
    val annJson: String =
      if (!legFilter.forall(_.contains("ann_recall"))) ""
      else {
        val maxF = factors.max
        val annK = 10
        // EXACT-copy replicas would make the task trivial (every config
        // finds the query's own bucket full of cos=1 copies — recall
        // pins at 1.0 and measures nothing). Deterministically jitter
        // each replica's direction by ~0.1-relative per-component
        // sinusoidal noise instead: the true top-10 become tight-but-
        // distinct angular neighbors, exactly the regime where probe
        // budget buys recall.
        val corpusL = inflateEmbeddings(embeddingsL, maxF)
          .withColumn("embedding",
            transform(col("embedding"), (x, i) =>
              (x * (lit(1.0) + lit(0.1) *
                sin((pmod(col("vec_id"), lit(maxF)) * 64 + i + 1).cast("double"))))
                .cast("float")))
          .cache()
        corpusL.count()
        val truth: Map[Long, Set[Long]] = Similarity
          .bruteForceTopK(corpusL, "vec_id", "embedding",
            queries25, "q_id", "q_vec", annK)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
        def timedRecall(build: => DataFrame): (Double, Double) = {
          val t0 = System.nanoTime()
          val got = build.select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
          val sec = (System.nanoTime() - t0) / 1e9
          val rs = truth.toSeq.map { case (q, ts) =>
            got.getOrElse(q, Set.empty).intersect(ts).size.toDouble / ts.size
          }
          (sec, rs.sum / rs.size)
        }
        // IVF side: label-mean centroids (the dd10/ss2 shape), then the
        // probe budget sweeps 1 -> all cells
        val centroids = corpusL.groupBy(col("label").as("cell"))
          .agg(array((0 until 64).map(i =>
            avg(element_at(col("embedding"), i + 1))): _*).as("cent_vec"))
        val assigned = Similarity.assignCells(
          corpusL.select("vec_id", "embedding"),
          "vec_id", "embedding", centroids, "cell", "cent_vec").cache()
        assigned.count()
        val nCells = centroids.count().toInt
        val ivfEntries = Seq(1, 2, 4, 8).filter(_ <= nCells).map { nProbe =>
          val (sec, rec) = timedRecall(Similarity.ivfTopK(
            assigned, "vec_id", "embedding", "cell",
            centroids, "cent_vec", queries25, "q_id", "q_vec", nProbe, annK))
          System.err.println(f"[scalebench] ann_recall ivf nProbe=$nProbe%-2d " +
            f"recall=$rec%.3f  $sec%6.2f s")
          s""""nprobe_$nProbe":{"sec":${fmt(sec)},"recall":${fmt(rec)}}"""
        }
        val lshEntries = Seq(1, 2, 4, 8).map { tables =>
          val (sec, rec) = timedRecall(Similarity.hyperplaneTopK(
            corpusL.select("vec_id", "embedding"), "vec_id", "embedding",
            queries25, "q_id", "q_vec", dim = 64, tables = tables, bits = 10,
            k = annK))
          System.err.println(f"[scalebench] ann_recall lsh tables=$tables%-2d " +
            f"recall=$rec%.3f  $sec%6.2f s")
          s""""tables_$tables":{"sec":${fmt(sec)},"recall":${fmt(rec)}}"""
        }
        // PQ side: recall vs codebook size at a fixed probe budget —
        // the accuracy-compression trade ss5 ships. Train (bounded
        // 1024-sample Lloyd), encode the corpus once per ks, then BOTH
        // arms: pure ADC top-k (recall ≈ k/|tie class| here BY DESIGN —
        // this corpus's true neighbors are jittered replicas below
        // quantization resolution, so quantized distances tie; the low
        // number is the honest measurement of that), and the FAISS
        // refine step (ADC shortlist of 20·k, exact re-rank) which
        // restores the fine order at |queries|·shortlist exact
        // distances instead of a full scan.
        val pqEntries = Seq(16, 64, 256).map { ks =>
          import session.implicits._
          val t0 = System.nanoTime()
          val cbDf = Similarity.pqTrainCodebooks(corpusL, "vec_id",
              "embedding", m = 8, subDim = 8, ks = ks, sampleN = 1024)
            .map { case (m0, cid, v) => (m0, cid, v.toSeq) }
            .toDF("pq_m", "pq_cid", "pq_vec")
          val codes = Similarity.pqEncode(assigned, "vec_id", "embedding",
            cbDf, m = 8, subDim = 8, carry = Seq("cell")).cache()
          codes.count()
          val trainSec = (System.nanoTime() - t0) / 1e9
          def adcShortlist(kk: Int) = Similarity.ivfPqTopK(
            codes, "vec_id", "cell", cbDf, centroids, "cent_vec",
            queries25, "q_id", "q_vec", m = 8, subDim = 8,
            nProbe = 4, k = kk)
          val (sec, rec) = timedRecall(adcShortlist(annK))
          val (rsec, rrec) = timedRecall(Similarity.pqRefineTopK(
            adcShortlist(20 * annK), corpusL, "vec_id", "embedding",
            queries25, "q_id", "q_vec", annK))
          codes.unpersist(blocking = false)
          System.err.println(f"[scalebench] ann_recall pq ks=$ks%-3d " +
            f"adc=$rec%.3f ($sec%5.2f s)  refined=$rrec%.3f ($rsec%5.2f s)" +
            f"  train+encode $trainSec%.2f s")
          s""""ks_$ks":{"train_sec":${fmt(trainSec)},"sec":${fmt(sec)},"recall":${fmt(rec)},""" +
            s""""refined_sec":${fmt(rsec)},"refined_recall":${fmt(rrec)}}"""
        }
        // int8 arm (ss6 storage composed into candidate generation —
        // ss7, r12 verdict ask #3). The 100 TB claim is SCAN VOLUME:
        // the coarse pass's input is the quantized table, so both scan
        // inputs are written as parquet on the max-factor corpus and
        // their byte sizes recorded — the compute timings below run on
        // the cached frames (this harness measures operator cost; at
        // corpus scale the byte ratio is the dominant term, and it is
        // measured, not asserted). Refined recall must match the
        // exact scan's (the refine re-scores a 4k-deep shortlist with
        // true cosine); the pure-coarse number shows what refinement
        // buys back.
        val int8Json: String = {
          val i8Shortlist = 4 * annK
          val qTable = corpusL
            .withColumn("s", Similarity.int8Scale(col("embedding")).cast("float"))
            .withColumn("q8",
              Similarity.int8Quantize(col("embedding"), col("s")))
            .select("vec_id", "s", "q8")
          val dir = java.nio.file.Files.createTempDirectory("graft-ann-int8")
          def bytesOf(df: DataFrame, name: String): Long = {
            val p = dir.resolve(name)
            df.write.mode("overwrite").parquet(p.toString)
            p.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
              .map(_.length).sum
          }
          val f32B = bytesOf(corpusL.select("vec_id", "embedding"), "f32")
          val i8B = bytesOf(qTable, "i8")
          graft.LocalRun.deleteRecursively(dir)
          val (bsec, _) = timedRecall(Similarity.bruteForceTopK(
            corpusL, "vec_id", "embedding", queries25, "q_id", "q_vec", annK))
          val qCorpus = corpusL.select(col("vec_id"),
            Similarity.int8AsDouble(Similarity.int8Quantize(col("embedding"),
              Similarity.int8Scale(col("embedding")))).as("qv"))
          val qQueries = queries25.select(col("q_id"),
            Similarity.int8AsDouble(Similarity.int8Quantize(col("q_vec"),
              Similarity.int8Scale(col("q_vec")))).as("q_qv"))
          val (qsec, qrec) = timedRecall(Similarity.bruteForceTopK(
            qCorpus, "vec_id", "qv", qQueries, "q_id", "q_qv", annK))
          val (rsec, rrec) = timedRecall(Similarity.int8RefineTopK(
            corpusL.select("vec_id", "embedding"), "vec_id", "embedding",
            queries25, "q_id", "q_vec", shortlist = i8Shortlist, k = annK))
          // ss8: the two scan-volume levers COMPOSED — ivf cell pruning
          // (nProbe=4 of nCells) × int8 bytes within the probed cells.
          // Recall is judged against the same brute-force truth.
          val (csec, crec) = timedRecall(Similarity.ivfInt8RefineTopK(
            assigned, "vec_id", "embedding", "cell", centroids, "cent_vec",
            queries25, "q_id", "q_vec", nProbe = 4,
            shortlist = i8Shortlist, k = annK))
          System.err.println(f"[scalebench] ann_recall int8 bytes " +
            f"${i8B.toDouble / f32B}%.3f of f32  brute $bsec%5.2f s  " +
            f"coarse recall=$qrec%.3f ($qsec%5.2f s)  " +
            f"refined recall=$rrec%.3f ($rsec%5.2f s)  " +
            f"ivf+int8 recall=$crec%.3f ($csec%5.2f s)")
          // r13 verdict ask #4: the shortlist is PLANNED, not hand-
          // picked — measure the true-neighbor quantized-rank CDF on a
          // bounded md5-sample OF THE QUERY WORKLOAD
          // (Similarity.int8TrueNeighborRanks), read the 0.95-target
          // shortlist off it, and sweep ACTUAL refined recall at
          // shortlist ∈ {10,20,40,80} next to the plan's CDF
          // prediction (refined recall@k at depth s IS the coarse CDF
          // at s; the plan samples 12 of the 25 eval queries, so the
          // sweep is a within-workload generalization check).
          val planSampleN = 12 // one source of truth: both CDFs + the JSON
          val planRanks = Similarity.int8TrueNeighborRanks(
            corpusL, "vec_id", "embedding",
            queries25, "q_id", "q_vec", annK, sampleN = planSampleN)
          val planned = Similarity.int8ShortlistFor(planRanks, annK, 0.95)
          // the r14 negative finding, KEPT as a committed measurement:
          // md5-sampling CORPUS ROWS as plan queries (the
          // pqTrainCodebooks sampling move, the first r14
          // implementation) under-planned 4x on this corpus —
          // corpus-row CDF said shortlist 10 reaches 0.988 while the
          // workload needed ~80 for 1.0. Workload queries sit at
          // replica-cluster centroids (dense near-tie top-k that
          // quantization reorders freely); corpus rows are jittered
          // replicas with wider sibling gaps. Rank geometry is a
          // property of the (query, corpus) pair — plan on the
          // workload.
          val corpusRowRanks = Similarity.int8TrueNeighborRanks(
            corpusL, "vec_id", "embedding",
            corpusL.select(col("vec_id").as("q_id"),
              col("embedding").as("q_vec")), "q_id", "q_vec",
            annK, sampleN = planSampleN)
          val corpusPlanned = Similarity.int8ShortlistFor(corpusRowRanks, annK, 0.95)
          System.err.println(f"[scalebench] ann_recall int8 plan: " +
            f"${planRanks.length} workload-sampled true-neighbor ranks, " +
            f"planned shortlist (target 0.95) = $planned " +
            f"(corpus-row sampling would say $corpusPlanned)")
          val sweepEntries = Seq(10, 20, 40, 80).map { sl =>
            val (ssec, srec) = timedRecall(Similarity.int8RefineTopK(
              corpusL.select("vec_id", "embedding"), "vec_id", "embedding",
              queries25, "q_id", "q_vec", shortlist = sl, k = annK))
            val cdf = Similarity.int8CoarseRecallAt(planRanks, sl)
            val ccdf = Similarity.int8CoarseRecallAt(corpusRowRanks, sl)
            System.err.println(f"[scalebench] ann_recall int8 shortlist=$sl%-3d " +
              f"refined recall=$srec%.3f ($ssec%5.2f s)  plan CDF=$cdf%.3f " +
              f"corpus-row CDF=$ccdf%.3f")
            s""""sl_$sl":{"sec":${fmt(ssec)},"recall":${fmt(srec)},""" +
              s""""plan_cdf":${fmt(cdf)},"corpus_row_cdf":${fmt(ccdf)}}"""
          }
          s""""int8":{"f32_bytes":$f32B,"i8_bytes":$i8B,""" +
            s""""bytes_ratio":${fmt(i8B.toDouble / f32B)},""" +
            s""""brute_sec":${fmt(bsec)},"shortlist":$i8Shortlist,""" +
            s""""coarse":{"sec":${fmt(qsec)},"recall":${fmt(qrec)}},""" +
            s""""refined":{"sec":${fmt(rsec)},"recall":${fmt(rrec)}},""" +
            s""""ivf_int8":{"nprobe":4,"sec":${fmt(csec)},"recall":${fmt(crec)}},""" +
            s""""plan":{"sample_queries":$planSampleN,"target":0.95,""" +
            s""""planned_shortlist":$planned,""" +
            s""""corpus_row_shortlist":$corpusPlanned},""" +
            s""""sweep":{${sweepEntries.mkString(",")}}}"""
        }
        // stored-serving arm (r15 verdict ask #5): ss10's shape
        // measured AT EVERY FACTOR — the one ANN family member the
        // scale evidence lacked. Per factor: write the
        // cell-partitioned int8 index ONCE (untimed — the write-once
        // contract), then time a single-query SERVE (probe ranking +
        // static cell prune + coarse int8 scan + float refine) and
        // record what the coarse scan actually LISTED (partition
        // count + bytes, from the scan's driver metrics). Cells are
        // replica-aware (label·f + rep, the dd_semantic convention):
        // nCells grows ×f with the corpus while cell SIZE stays
        // constant — the production layout — so the claim under test
        // is byte-precise: the serve lists exactly nProbe partitions
        // at every factor (REQUIREd) and its scanned bytes stay
        // ~constant while the index grows ×f (the recorded ratio).
        // A multi-query workload's probe UNION can legitimately cover
        // many cells; the per-serve cost contract is the single-query
        // number, so that is what this measures.
        val storedJson: String = {
          val storedNProbe = 4
          val oneQ = queries25.filter(col("q_id") === 0)
          val entries = factors.map { f =>
            // cached: the inflated+jittered corpus is read by three
            // setup consumers (centroid agg, partitioned write, floats
            // cache) — without the pin each would re-run the x f
            // inflation transform (r16 self-review)
            val corpusF = inflateEmbeddings(embeddingsL, f)
              .withColumn("embedding",
                transform(col("embedding"), (x, i) =>
                  (x * (lit(1.0) + lit(0.1) *
                    sin((pmod(col("vec_id"), lit(f)) * 64 + i + 1)
                      .cast("double")))).cast("float")))
              .withColumn("cell",
                col("label") * f + pmod(col("vec_id"), lit(f)))
              .cache()
            val dir = java.nio.file.Files.createTempDirectory(s"graft-ann-stored-$f")
            // r16 ADVICE: a failed require / serve throw must not leak
            // this factor's cached frames and temp index dir into the
            // rest of the bench run — all cleanup rides the finally
            var cents: org.apache.spark.sql.DataFrame = null
            var floats: org.apache.spark.sql.DataFrame = null
            try {
            cents = corpusF.groupBy("cell")
              .agg(array((0 until 64).map(i =>
                avg(element_at(col("embedding"), i + 1))): _*).as("cent_vec"))
              .cache()
            val nCellsF = cents.count().toInt
            corpusF.select(col("vec_id"), col("cell"),
                Similarity.int8Quantize(col("embedding"),
                  Similarity.int8Scale(col("embedding"))).as("q8"))
              .write.mode("overwrite").partitionBy("cell")
              .parquet(dir.resolve("cells").toString)
            def parquetBytes(p: java.io.File): Long =
              if (p.isDirectory) p.listFiles().map(parquetBytes).sum
              else if (p.getName.endsWith(".parquet")) p.length else 0L
            val totalBytes = parquetBytes(dir.resolve("cells").toFile)
            floats = corpusF.select("vec_id", "embedding").cache()
            floats.count()
            def serveOnce(): (Double, Long, Long, Long) = {
              val t0 = System.nanoTime()
              // probe ranking + the static prune list are SERVE work —
              // inside the timer, like every production request
              val probed = Similarity.probedCellSet(oneQ, "q_id", "q_vec",
                cents, "cent_vec", "cell", storedNProbe)
              val served = Similarity.ivfInt8RefineTopKStored(
                session.read.parquet(dir.resolve("cells").toString)
                  .filter(col("cell").isin(probed: _*)),
                "vec_id", "q8", "cell",
                cents, "cent_vec", floats, "embedding",
                oneQ, "q_id", "q_vec", storedNProbe,
                shortlist = 4 * annK, k = annK)
              val n = served.collect().length.toLong
              val sec = (System.nanoTime() - t0) / 1e9
              val scan = LocalRun.fileScans(served.queryExecution.executedPlan)
                .find(_.relation.location.rootPaths
                  .exists(_.toString.contains("cells")))
                .getOrElse(sys.error("stored arm: no cells scan in plan"))
              (sec, n, scan.metrics("numPartitions").value,
                scan.metrics("filesSize").value)
            }
            val (s1, n1, p1, b1) = serveOnce()
            val (s2, n2, p2, b2) = serveOnce()
            require(n1 == n2 && n1 == annK.toLong,
              s"stored arm at $f×: expected $annK served rows, got $n1/$n2")
            require(p1 == storedNProbe.toLong && p2 == p1,
              s"stored arm at $f×: coarse scan listed $p1/$p2 partitions, " +
                s"expected exactly nProbe=$storedNProbe of $nCellsF")
            val sec = math.min(s1, s2)
            System.err.println(f"[scalebench] ann_recall stored ${f}%3d×  " +
              f"serve $sec%5.2f s  cells=$nCellsF  " +
              f"scanned ${b1 / 1024}%d KiB of ${totalBytes / 1024}%d KiB " +
              f"(${b1.toDouble / totalBytes}%.4f)")
            s""""$f":{"sec":${fmt(sec)},"cells":$nCellsF,""" +
              s""""scanned_partitions":$p1,""" +
              s""""scanned_bytes":$b1,"total_bytes":$totalBytes,""" +
              s""""scanned_ratio":${fmt(b1.toDouble / totalBytes)}}"""
            } finally {
              if (cents != null) cents.unpersist(blocking = false)
              if (floats != null) floats.unpersist(blocking = false)
              corpusF.unpersist(blocking = false)
              graft.LocalRun.deleteRecursively(dir)
            }
          }
          s""""stored":{"nprobe":$storedNProbe,"queries":1,""" +
            s""""factors":{${entries.mkString(",")}}}"""
        }
        assigned.unpersist(blocking = false)
        corpusL.unpersist(blocking = false)
        s""","ann_recall":{"factor":$maxF,"k":$annK,"cells":$nCells,"bits":10,""" +
          s""""ivf":{${ivfEntries.mkString(",")}},""" +
          s""""lsh":{${lshEntries.mkString(",")}},""" +
          s""""pq":{${pqEntries.mkString(",")}},""" +
          int8Json + "," + storedJson + "}"
      }

    // ---- st18 label-store probe cost vs store size (r17) -------------
    // The bucketed two-layout label store behind st18's per-batch
    // probes, measured at growing store size with the DEPLOYMENT
    // posture: B (hash buckets) sized to the store so bucket rows stay
    // ~constant (B = 8·f here), fixed 20-key probes. Claim under test:
    // a probe's scanned bytes are a function of the PROBE (its bucket
    // list × constant bucket size), not of the store — scanned_ratio
    // falls ~1/f while total bytes grow ×f, and the executed scan lists
    // ≤ min(|probe| · dirs, B) partitions (REQUIREd). The pre-r17
    // store had no layout: every probe read total_bytes at every size.
    // Skippable via the pseudo-leg name "label_store".
    val labelJson: String =
      if (!legFilter.forall(_.contains("label_store"))) ""
      else {
        def parquetBytes(p: java.io.File): Long =
          if (p.isDirectory) p.listFiles().map(parquetBytes).sum
          else if (p.getName.endsWith(".parquet")) p.length else 0L
        val probeN = 20
        val entries = factors.map { f =>
          val bF = 8 * f
          // replica-disjoint synthetic labels: groups of 3 docs — the
          // layout claim is storage-level, independent of how the
          // labels were derived (st18's CC or otherwise)
          val labels = session.range(200000L * f).select(col("id").as("doc"),
            (col("id") - pmod(col("id"), lit(3))).as("group_id"))
          val root = java.nio.file.Files.createTempDirectory(s"graft-labels-$f")
          try {
            queries.CorpusStreamQueries.writeLabelDirs(session, labels, root, "base", bF)
            val docDir = root.resolve("base").toString
            val grpDir = root.resolve("baseByGrp").toString
            val totalBytes = parquetBytes(root.resolve("base").toFile)
            // fixed probe: 20 docs present at every factor
            val probe = session.range(probeN).select((col("id") * 7919L).as("doc"))
            def serve(paths: Seq[String], pCol: String, bCol: String,
                      pr: org.apache.spark.sql.DataFrame,
                      expectRows: Long): (Double, Long, Long) = {
              val t0 = System.nanoTime()
              val resolved = queries.CorpusStreamQueries.resolvedLabelsFor(
                session, paths, pCol, bCol, pr, bF)
              val n = resolved.collect().length.toLong
              val sec = (System.nanoTime() - t0) / 1e9
              require(n == expectRows,
                s"label_store at $f×: $n of $expectRows rows resolved")
              val scans = LocalRun.fileScans(resolved.queryExecution.executedPlan)
                .filter(_.relation.location.rootPaths
                  .exists(_.toString.contains("graft-labels")))
              val parts = scans.map(_.metrics("numPartitions").value).sum
              val bytes = scans.map(_.metrics("filesSize").value).sum
              require(parts <= math.min(probeN, bF).toLong,
                s"label_store at $f×: scan listed $parts partitions, " +
                  s"expected <= min($probeN, $bF)")
              (sec, parts, bytes)
            }
            val (dSec, dParts, dBytes) = serve(Seq(docDir), "doc", "bkt",
              probe, probeN.toLong)
            // 20 distinct groups of exactly 3 members each
            val (gSec, gParts, gBytes) = serve(Seq(grpDir), "group_id", "gbkt",
              probe.select((col("doc") - pmod(col("doc"), lit(3)))
                .as("group_id")), 3L * probeN)
            System.err.println(f"[scalebench] label_store ${f}%3d×  B=$bF%-4d " +
              f"doc-probe $dSec%5.2f s ${dBytes / 1024}%d KiB / " +
              f"${totalBytes / 1024}%d KiB (${dBytes.toDouble / totalBytes}%.4f)  " +
              f"grp-probe $gSec%5.2f s ${gBytes / 1024}%d KiB")
            s""""$f":{"buckets":$bF,"total_bytes":$totalBytes,""" +
              s""""doc_probe":{"sec":${fmt(dSec)},"partitions":$dParts,""" +
              s""""scanned_bytes":$dBytes,""" +
              s""""scanned_ratio":${fmt(dBytes.toDouble / totalBytes)}},""" +
              s""""grp_probe":{"sec":${fmt(gSec)},"partitions":$gParts,""" +
              s""""scanned_bytes":$gBytes}}"""
          } finally LocalRun.deleteRecursively(root)
        }
        s""","label_store":{"probe_keys":$probeN,""" +
          s""""factors":{${entries.mkString(",")}}}"""
      }

    val json = s"""{"metric":"scale_bench","unit":"sec","sf_dir":"$sfDir",""" +
      s""""factors":[${factors.mkString(",")}],"legs":{$legJson}$annJson$labelJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), json.getBytes("UTF-8"))
    println(json)
    session.stop()
  }
}
