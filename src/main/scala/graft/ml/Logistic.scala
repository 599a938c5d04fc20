package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Importance, TextOps}

/** Model-based quality filtering — the GPT-3/LLaMA recipe (Brown et
  * al. 2020 §A; Touvron et al. 2023): train a linear classifier to
  * distinguish a curated corpus from raw crawl, then keep raw
  * documents the classifier scores as curated-like. The classifier is
  * LOGISTIC REGRESSION over hashed token-frequency features, fitted by
  * IRLS (iteratively reweighted least squares — the standard GLM
  * algorithm: each iteration solves a WEIGHTED least-squares problem,
  * which is exactly the gram machinery [[GramOls]] already runs for
  * OLS, with per-row working weights).
  *
  * Scale posture: the feature space is a FIXED number of hashed
  * buckets (the DSIR/[[Importance]] trick), so each IRLS iteration is
  * ONE ordered partition sum ([[OrderedSum]]) over the corpus
  * accumulating XᵀWX ((p+1)² doubles) and XᵀWz (p+1) — payload
  * independent of corpus size, solved on the driver like GramOls'
  * shared gram. Featurization is one explode + two keyed aggregations;
  * scoring is a broadcast join against the (p+1)-row fitted-coefficient
  * table plus one doc-keyed aggregation —
  * nothing corpus-quadratic, nothing driver-side but the tiny solve.
  */
object Logistic {

  final case class LogitFit(coefs: Array[Double], deviances: Seq[Double]) {
    /** Index 0 = intercept; 1..p = bucket weights. */
    def intercept: Double = coefs(0)
    def bucketWeight(b: Int): Double = coefs(b + 1)
  }

  /** Shared featurization prefix: per-(doc, bucket) token counts —
    * the ONE definition both [[hashedFeatures]] (training) and
    * [[scoreDocs]] (inference) consume, so the fit/score contract
    * cannot drift if the tokenizer or hash changes. */
  private def bucketCounts(docs: DataFrame, idCol: String, textCol: String,
                           buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    docs.select(col(idCol), explode(TextOps.words(col(textCol))).as("__w"))
      .groupBy(col(idCol), Importance.hashBucket(col("__w"), buckets).as("__b"))
      .agg(count(lit(1)).as("__c"))
  }

  /** Hashed token-frequency features: (idCol, n_words, feats) where
    * feats(b) = count of tokens hashing to bucket b / n_words — the
    * fixed-width dense vector the IRLS scan consumes. One explode +
    * per-(doc, bucket) count + per-doc map assembly. */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     buckets: Int): DataFrame = {
    bucketCounts(docs, idCol, textCol, buckets)
      .groupBy(col(idCol))
      .agg(
        sum("__c").as("n_words"),
        map_from_arrays(collect_list(col("__b")), collect_list(col("__c")))
          .as("__m"))
      .withColumn("feats", transform(sequence(lit(0), lit(buckets - 1)),
        b => coalesce(element_at(col("__m"), b.cast("long")), lit(0L))
          .cast("double") / col("n_words")))
      .drop("__m")
  }

  private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** IRLS fit of P(label=1 | feats) = σ(β₀ + β·feats). `featured`
    * must carry `feats: array<double>` of width `p` and a 0/1 double
    * `labelCol`. Runs `iters` full IRLS iterations (fixed count — a
    * data-dependent stopping rule would make the scan count
    * nondeterministic); `ridge` stabilizes separable data, where the
    * unpenalized MLE diverges. Returns the coefficient vector plus a
    * deviance trace of `iters + 1` entries: the deviance at the
    * initial zero vector and after EVERY update including the final
    * one (the returned model is therefore validated, not just its
    * predecessors). The per-update deviances ride in the same
    * ordered sum as the gram; only the last entry costs one extra
    * lightweight pass. Asserting the trace decreases is the
    * convergence diagnostic. */
  def fitIrls(featured: DataFrame, featsCol: String, labelCol: String,
              p: Int, iters: Int = 4, ridge: Double = 1e-4): LogitFit = {
    require(p >= 1 && iters >= 1 && ridge >= 0)
    val q = p + 1
    val rows = featured
      .select(col(featsCol).cast("array<double>"), col(labelCol).cast("double"))
      .rdd.map { r =>
        val f = r.getSeq[Double](0)
        require(f.length == p, s"feature width ${f.length} != $p")
        (f.toArray, r.getDouble(1))
      }
    rows.cache()
    try {
      var beta = new Array[Double](q)
      val deviances = Seq.newBuilder[Double]
      for (_ <- 1 to iters) {
        val b0 = beta // stable reference for the closure
        val sums = OrderedSum.sum(rows, q * q + q + 1) { case (acc, (f, y)) =>
          var eta = b0(0)
          var j = 0
          while (j < p) { eta += b0(j + 1) * f(j); j += 1 }
          val mu0 = sigmoid(eta)
          // clamp: w -> 0 at saturated mu makes z explode; the clamp
          // is the standard IRLS guard and keeps the gram PSD
          val mu = math.min(math.max(mu0, 1e-10), 1 - 1e-10)
          val w = mu * (1 - mu)
          val z = eta + (y - mu) / w
          val x = new Array[Double](q)
          x(0) = 1.0
          System.arraycopy(f, 0, x, 1, p)
          var i = 0
          while (i < q) {
            val wxi = w * x(i)
            acc(q * q + i) += wxi * z
            var k = 0
            while (k < q) { acc(i * q + k) += wxi * x(k); k += 1 }
            i += 1
          }
          acc(q * q + q) += -2.0 * (y * math.log(mu) + (1 - y) * math.log(1 - mu))
        }
        val (a, bv, dev) = (sums.take(q * q), sums.slice(q * q, q * q + q), sums(q * q + q))
        deviances += dev
        val aMat = new DenseMatrix(q, q, a)
        var i = 0
        while (i < q) { aMat(i, i) += ridge; i += 1 }
        beta = GramOls.solvePsd(aMat, new DenseVector(bv)).toArray
      }
      // one deviance-only pass at the FINAL coefficients — without it
      // the last update would never be validated and an oscillating
      // terminal step could hide behind a decreasing prefix
      val bF = beta
      deviances += OrderedSum.sum(rows, 1) { case (acc, (f, y)) =>
        var eta = bF(0)
        var j = 0
        while (j < p) { eta += bF(j + 1) * f(j); j += 1 }
        val mu = math.min(math.max(sigmoid(eta), 1e-10), 1 - 1e-10)
        acc(0) -= 2.0 * (y * math.log(mu) + (1 - y) * math.log(1 - mu))
      }.head
      LogitFit(beta, deviances.result())
    } finally rows.unpersist(blocking = false)
  }

  /** Score a corpus against fitted LITERAL coefficients without
    * materializing feature vectors: per-(doc, bucket) counts join the
    * broadcast (bucket, weight) table, one doc-keyed aggregation forms
    * σ(β₀ + Σ w_b·c_b/n) — the [[Importance.docLogWeights]] shape with
    * learned weights. Returns (idCol, n_words, quality_prob_raw). */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                fit: LogitFit, buckets: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val weights = (0 until buckets)
      .map(b => (b.toLong, fit.bucketWeight(b)))
      .toDF("__b", "__wt")
    bucketCounts(docs, idCol, textCol, buckets)
      .join(broadcast(weights), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum("__c").as("n_words"),
        sum(col("__wt") * col("__c")).as("__dot"))
      .withColumn("quality_prob_raw",
        lit(1.0) / (lit(1.0) +
          exp(-(lit(fit.intercept) + col("__dot") / col("n_words")))))
      .drop("__dot")
  }
}
