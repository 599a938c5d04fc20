package graft.ml

import graft.SparkSpec

/** The IRLS logistic classifier on crafted fixtures: separable vocab
  * gets separated, deviance decreases monotonically, the scoring join
  * path equals a direct sigmoid over the feature vectors, and the
  * closed-form intercept-only model is recovered exactly. */
class LogisticSpec extends SparkSpec {
  import spark.implicits._

  private val B = 32

  test("separable vocabularies: curated-vocab docs score > 0.9, " +
    "raw-vocab < 0.1, deviance decreases every IRLS iteration") {
    val docs = ((1L to 20L).map(id =>
      (id, "apple banana cherry apple banana cherry apple", 1.0)) ++
      (21L to 40L).map(id =>
        (id, "dog cat mouse dog cat mouse dog", 0.0))).toDF("id", "text", "y")
    val feats = Logistic.hashedFeatures(docs, "id", "text", B)
      .join(docs.select("id", "y"), Seq("id"))
    val fit = Logistic.fitIrls(feats, "feats", "y", p = B, iters = 6)
    assert(fit.deviances.zip(fit.deviances.tail).forall { case (a, b) => b < a + 1e-9 },
      fit.deviances.toString)
    val scores = Logistic.scoreDocs(docs, "id", "text", fit, B)
      .join(docs.select("id", "y"), Seq("id"))
      .select("y", "quality_prob_raw").as[(Double, Double)].collect()
    assert(scores.filter(_._1 == 1.0).forall(_._2 > 0.9), scores.mkString(","))
    assert(scores.filter(_._1 == 0.0).forall(_._2 < 0.1), scores.mkString(","))
  }

  test("scoreDocs (broadcast-join path) equals a direct sigmoid over " +
    "hashedFeatures' vectors") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "delta epsilon zeta"),
      (3L, "alpha delta alpha delta eta")).toDF("id", "text")
    // arbitrary fixed coefficients — no fit needed for path equality
    val coefs = Array.tabulate(B + 1)(i => math.sin(i * 1.7) * 0.5)
    val fit = Logistic.LogitFit(coefs, Seq.empty)
    val viaJoin = Logistic.scoreDocs(docs, "id", "text", fit, B)
      .select("id", "quality_prob_raw").as[(Long, Double)].collect().toMap
    val feats = Logistic.hashedFeatures(docs, "id", "text", B)
      .select("id", "feats").as[(Long, Seq[Double])].collect().toMap
    for ((id, f) <- feats) {
      val eta = coefs(0) + f.zipWithIndex.map { case (v, b) => coefs(b + 1) * v }.sum
      val direct = 1.0 / (1.0 + math.exp(-eta))
      assert(math.abs(viaJoin(id) - direct) < 1e-12, s"doc $id")
    }
  }

  test("intercept-only recovery: with uninformative features the fitted " +
    "probability is the base rate") {
    // every doc shares ONE word -> all mass in one bucket, feature
    // constant -> only the intercept (plus that bucket, collinear with
    // it) carries signal; predicted prob must equal the 30% base rate
    val docs = ((1L to 3L).map(id => (id, "same", 1.0)) ++
      (4L to 10L).map(id => (id, "same", 0.0))).toDF("id", "text", "y")
    val feats = Logistic.hashedFeatures(docs, "id", "text", B)
      .join(docs.select("id", "y"), Seq("id"))
    val fit = Logistic.fitIrls(feats, "feats", "y", p = B, iters = 8)
    val probs = Logistic.scoreDocs(docs, "id", "text", fit, B)
      .select("quality_prob_raw").as[Double].collect()
    probs.foreach(pr => assert(math.abs(pr - 0.3) < 1e-3, pr.toString))
  }

  test("fitIrls rejects wrong feature width") {
    val bad = Seq((Seq(1.0, 2.0), 1.0)).toDF("feats", "y")
    val e = intercept[org.apache.spark.SparkException] {
      Logistic.fitIrls(bad, "feats", "y", p = B)
    }
    assert(e.getMessage != null)
  }
}
