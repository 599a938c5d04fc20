package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Language-model perplexity quality scoring — the CCNet recipe
  * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data"): train a small LM on a trusted
  * target corpus (CCNet uses Wikipedia; here the curated sources) and
  * rank raw documents by their perplexity under it — fluent,
  * target-like prose scores low, boilerplate and gibberish high. The
  * classic complement to the heuristic rule filters ([[TextOps]],
  * tx8) and the n-gram-free importance weights ([[Importance]]).
  *
  * The model is a hashed-BIGRAM Lidstone LM over `buckets`² pair
  * buckets: both words of each bigram hash into a fixed bucket space
  * (the [[Importance.hashBucket]] md5 trick, oracle-portable), so
  *
  *   P(b₂|b₁) = (c₂(b₁,b₂) + α) / (c₁(b₁) + α·B)
  *
  * is a PROPER conditional over the hashed vocabulary (c₁ is the
  * row-marginal of c₂ by construction). Unseen pairs back off to the
  * context's smoothed floor α/(c₁+α·B); unseen contexts to 1/B.
  *
  * Scale posture: the pair-count table is bounded by B² rows (65,536
  * at the default 256) REGARDLESS of corpus size — always broadcast,
  * like DSIR's unigram table; training is one aggregation keyed on
  * the pair bucket (map-side combine collapses the stream), scoring
  * is a map-side join plus one doc-keyed aggregation. Nothing driver-
  * side, nothing corpus-quadratic. */
object LangModel {

  /** Hashed (context, next) bucket pair of a 2-gram string
    * ("w1 w2"). */
  private def pairBuckets(gram: Column, buckets: Int): (Column, Column) = (
    Importance.hashBucket(substring_index(gram, " ", 1), buckets),
    Importance.hashBucket(substring_index(gram, " ", -1), buckets))

  /** (doc id, 2-gram) stream of a corpus — the native shingle kernel
    * feeding an explode; single-word documents contribute nothing. */
  def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(TextOps.wordShingles(TextOps.words(col(textCol)), 2)).as("__g"))

  /** Train: smoothed log-probability tables from the target corpus.
    * Returns (pairLogp (b1, b2, logp), ctxBackoff (b1, backoff)) —
    * both bounded by the bucket space, broadcast at any scale.
    * `logpTrunc` fixes the emitted values to a decimal grid so
    * downstream sums are reproducible across engines.
    *
    * Both tables read one `localCheckpoint`ed pair-count table, and the
    * caller owns it: release it with [[Dedup.releaseCheckpoint]] on
    * either returned frame once both are consumed (the
    * [[Dedup.connectedComponents]] contract). */
  def train(targetDocs: DataFrame, idCol: String, textCol: String,
            buckets: Int, alpha: Double = 1.0,
            logpTrunc: Column => Column = identity): (DataFrame, DataFrame) = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(alpha > 0, s"alpha must be positive (smoothing), got $alpha")
    val (b1, b2) = pairBuckets(col("__g"), buckets)
    // ONE corpus pass (r18, guide §1.2 step 1): the pair counts are
    // aggregated once and MATERIALIZED (localCheckpoint — the table is
    // bounded by B² rows at any corpus scale, so pinning it is free);
    // the context marginal is a window row-sum OVER that table and the
    // backoff table a projection of it. The previous lazy c2/c1 frames
    // re-derived the corpus aggregation per consumer — the pair-logp
    // join, its broadcast marginal, and the backoff table each re-ran
    // the full bigram explode+aggregate (3 corpus passes, 5 exchanges;
    // this shape is 1 pass, 2 bounded exchanges). c1 ≡ sum of __c2 per
    // b1 by construction, so emitted values are bit-identical.
    val c2 = bigrams(targetDocs, idCol, textCol)
      .groupBy(b1.as("b1"), b2.as("b2"))
      .agg(count(lit(1)).as("__c2"))
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("b1")
    val withCtx = c2.withColumn("__c1", sum("__c2").over(w))
    val pairLogp = withCtx
      .select(col("b1"), col("b2"),
        logpTrunc(log((col("__c2") + alpha) /
          (col("__c1") + lit(alpha * buckets)))).as("logp"))
    // one row per context: every (b1, backoff) pair is identical
    // across the context's rows, so distinct is exact
    val ctxBackoff = withCtx.select(col("b1"),
      logpTrunc(log(lit(alpha) / (col("__c1") + lit(alpha * buckets))))
        .as("backoff"))
      .distinct()
    (pairLogp, ctxBackoff)
  }

  /** Score: per-document mean bigram log-probability under the
    * trained tables (map-side broadcast joins + one doc-keyed
    * aggregation). `floorLogp` is the unseen-context floor — pass
    * ln(1/buckets) (kept a caller-side literal so the SQL oracle can
    * interpolate the identical double). Returns (idCol, n_bigrams,
    * avg_logp_raw); documents with no bigram are absent. */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                pairLogp: DataFrame, ctxBackoff: DataFrame,
                buckets: Int, floorLogp: Double): DataFrame = {
    val (b1, b2) = pairBuckets(col("__g"), buckets)
    bigrams(docs, idCol, textCol)
      .select(col(idCol), b1.as("b1"), b2.as("b2"))
      .join(broadcast(pairLogp), Seq("b1", "b2"), "left")
      .join(broadcast(ctxBackoff), Seq("b1"), "left")
      .select(col(idCol),
        coalesce(col("logp"), col("backoff"), lit(floorLogp)).as("__lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg("__lp").as("avg_logp_raw"))
  }
}
