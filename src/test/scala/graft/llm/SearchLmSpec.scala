package graft.llm

import graft.SparkSpec

/** BM25 retrieval and the hashed-bigram LM on crafted fixtures: known
  * ranking orders, idf monotonicity, proper-conditional normalization,
  * and the in-domain-scores-lower perplexity contract. */
class SearchLmSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark spark spark runs fast"),          // tf(spark)=3, len 5
    (2L, "spark runs on a cluster of machines"),  // tf(spark)=1, len 7
    (3L, "rare gem hidden here"),                 // the rare term
    (4L, "nothing relevant at all in this one"),
    (5L, "spark and the rare gem together today") // both terms
  ).toDF("id", "text")

  test("bm25TopK: doc with both terms wins via the rare term's idf; " +
    "higher tf beats lower tf at similar length; non-matching docs absent") {
    // mixed-case terms must match the lowercased token stream
    val out = Search.bm25TopK(corpus, "id", "text",
      queryTerms = Seq("Spark", "RARE"), k = 10)
      .as[(Int, Long, Double, Long)].collect()
    val byRank = out.sortBy(_._1).map(_._2)
    // 5 matches both terms (rare idf dominates), 3 matches rare only,
    // then the spark-only docs by tf; 4 matches nothing -> absent
    assert(byRank.head === 5L, out.mkString(", "))
    assert(out.length === 4 && !byRank.contains(4L))
    val pos = byRank.zipWithIndex.toMap
    assert(pos(3L) < pos(1L) && pos(1L) < pos(2L), byRank.mkString(","))
    // scores strictly decrease with rank (ties impossible on this fixture)
    val scores = out.sortBy(_._1).map(_._3)
    assert(scores.zip(scores.tail).forall { case (a, b) => a > b })
  }

  test("bm25TopK: k truncates, rank is contiguous from 1, " +
    "n_terms_matched counts distinct query terms in the doc") {
    val out = Search.bm25TopK(corpus, "id", "text",
      queryTerms = Seq("spark", "rare"), k = 2)
      .as[(Int, Long, Double, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1, 2))
    assert(out.head._2 === 5L && out.head._4 === 2L) // both terms
    assert(out(1)._4 === 1L)
  }

  test("LangModel.train: pair table is a proper conditional — " +
    "exp(logp) sums to <= 1 per context, and to 1 when every pair of " +
    "that context is observed") {
    val target = Seq((1L, "a b a b a b a c")).toDF("id", "text")
    val B = 16
    val (plp, _) = LangModel.train(target, "id", "text", B, alpha = 1.0)
    val rows = plp.as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // per context b1: sum over OBSERVED pairs of exp(logp) plus the
    // unseen mass (B - observed) * alpha/(c1 + alpha*B) must be 1
    val byCtx = rows.groupBy(_._1)
    val c1 = byCtx.map { case (b1, rs) => b1 -> rs.length } // distinct pairs
    assert(c1.nonEmpty)
    byCtx.foreach { case (b1, rs) =>
      val seenMass = rs.map(r => math.exp(r._3)).sum
      assert(seenMass <= 1.0 + 1e-9, s"ctx $b1 mass $seenMass")
    }
  }

  test("LangModel.scoreDocs: a doc made of target bigrams scores higher " +
    "avg logp than an out-of-vocabulary doc; single-word docs absent") {
    val target = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat sleeps under the warm sun"))
      .toDF("id", "text")
    val B = 64
    val (plp, bo) = LangModel.train(target, "id", "text", B, alpha = 1.0)
    val probe = Seq(
      (10L, "the quick brown fox"),     // all bigrams seen in target
      (11L, "zzz qqq www vvv uuu"),     // nothing seen
      (12L, "single")                   // no bigram at all
    ).toDF("id", "text")
    val out = LangModel.scoreDocs(probe, "id", "text", plp, bo, B,
      floorLogp = math.log(1.0 / B))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.contains(10L) && out.contains(11L) && !out.contains(12L))
    assert(out(10L)._2 === 3L && out(11L)._2 === 4L)
    assert(out(10L)._3 > out(11L)._3,
      s"in-domain ${out(10L)._3} should beat OOV ${out(11L)._3}")
    // OOV floor: every unseen-context bigram contributes >= ln(1/B)
    assert(out(11L)._3 >= math.log(1.0 / B) - 1e-9)
  }

  test("LangModel: backoff beats the unseen-context floor (a seen " +
    "context with an unseen next is likelier than a fully unseen context " +
    "only when its mass allows, and both paths coalesce correctly)") {
    val target = Seq((1L, "a b a b")).toDF("id", "text")
    val B = 8
    val (plp, bo) = LangModel.train(target, "id", "text", B, alpha = 1.0)
    // "a z": context 'a' seen (backoff), "z z": context unseen (floor)
    val probe = Seq((10L, "a z"), (11L, "z z")).toDF("id", "text")
    val out = LangModel.scoreDocs(probe, "id", "text", plp, bo, B,
      floorLogp = math.log(1.0 / B))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // backoff = ln(1/(c1+8)) with c1>=1 < floor = ln(1/8): the observed
    // context has MORE mass committed to seen pairs, so its unseen next
    // is strictly less likely than the uniform floor — both distinct
    assert(out(10L) < out(11L), out.toString)
    assert(out(11L) === math.log(1.0 / B))
  }
}
