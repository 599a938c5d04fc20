package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Behaviour of the LLM-pipeline operators on crafted fixtures —
  * especially the approximate stages (SimHash, MinHash/LSH recall,
  * IVF) that are exempt from the SQL oracle. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  test("TextOps.words + wordShingles: 3-gram shingles, short docs give empty (not descending sequence!)") {
    val out = Seq("a b c d", "a b", "").toDF("t")
      .select(TextOps.wordShingles(TextOps.words($"t"), 3)).as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq.empty)
    assert(out(2) === Seq.empty)
  }

  test("wordShingles kernel ≡ HOF fold form over seeded random word arrays, incl. nulls (property)") {
    val rnd = new scala.util.Random(23)
    val rows: Seq[Seq[String]] = (0 until 60).map { _ =>
      val n = rnd.nextInt(12)
      Seq.fill(n) {
        if (rnd.nextInt(10) == 0) null
        else ('a' + rnd.nextInt(5)).toChar.toString * (1 + rnd.nextInt(3))
      }
    } :+ Seq.empty[String] :+ Seq("only") :+ Seq(null, null, null)
    val df = rows.toDF("ws")
    for (n <- Seq(1, 2, 3, 8)) {
      val both = df.select(
        TextOps.wordShingles($"ws", n).as("k"),
        TextOps.wordShinglesFold($"ws", n).as("f"))
        .as[(Seq[String], Seq[String])].collect()
      both.zipWithIndex.foreach { case ((k, f), i) =>
        assert(k === f, s"n=$n row $i (${rows(i)})")
      }
    }
  }

  /** Planted near-dup pairs under a universal gram: docs 3k and 3k+1
    * share most grams (true pairs), 3k+2 is noise, and every doc
    * carries "zz_hot" (df = n, the hottest possible key — the shape a
    * boilerplate footer gives a real crawl). `blk` alternates by
    * family. */
  private def hotGramCorpus(n: Int) =
    (0 until n).map { i =>
      val fam = i / 3
      val grams = i % 3 match {
        case 0 => Seq(s"a$fam", s"b$fam", s"c$fam", s"d$fam", s"e$fam", "zz_hot")
        case 1 => Seq(s"a$fam", s"b$fam", s"c$fam", s"d$fam", s"x$i", "zz_hot")
        case _ => Seq(s"p$i", s"q$i", s"r$i", s"s$i", s"t$i", "zz_hot")
      }
      (i.toLong, grams, s"blk${fam % 2}")
    }.toDF("doc_id", "grams", "blk")

  test("prefixFilterPairs ≡ brute-force all-pairs on seeded random corpora (exact-recall property)") {
    // Random small-vocab docs make near-threshold Jaccard values common:
    // the exact-recall claim is exercised right at the boundary, where a
    // too-short prefix or an over-demanding length filter would drop
    // pairs. Brute force via crossJoin is the semantic spec. The
    // universal-hot-gram corpus pins exact recall when one gram sits in
    // every document.
    val rnd = new scala.util.Random(9)
    val docs = (1L to 80L).map { id =>
      val n = 2 + rnd.nextInt(10)
      (id, Seq.fill(n)("w" + rnd.nextInt(6)).mkString(" "))
    }
    val random = docs.toDF("doc_id", "text")
      .withColumn("grams",
        array_distinct(TextOps.wordShingles(TextOps.words($"text"), 2)))
      .select("doc_id", "grams")
    val inputs = Seq("random" -> random,
      "universal hot gram" -> hotGramCorpus(90).select("doc_id", "grams"))
    for ((name, base) <- inputs; t <- Seq(0.3, 0.6, 0.9)) {
      val a = base.select($"doc_id".as("doc_a"), $"grams".as("g_a"))
      val b = base.select($"doc_id".as("doc_b"), $"grams".as("g_b"))
      val want = a.crossJoin(b).filter($"doc_a" < $"doc_b")
        .filter(Dedup.jaccard($"g_a", $"g_b") >= t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      // tiny docs (m down to 1 gram) are common in the random fixture,
      // so the pigeonhole prefix length, the length filter, and the
      // positional filter all get exercised at their degenerate edges
      val got = Dedup.prefixFilterPairs(base, "doc_id", "grams", t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got === want, s"$name, threshold $t")
      if (t == 0.6) assert(want.nonEmpty, s"$name fixture must plant boundary pairs")
    }
  }

  test("BLOCKED prefixFilterPairs ≡ blocked brute force (dd6's candidate generator)") {
    // same seeded-boundary fixture idea, plus a block key: pairs must
    // exist ONLY within equal (blk) groups, and within each block the
    // prefix filter must be lossless — including singleton blocks and
    // blocks whose every gram is block-unique (the strengthened df>=2
    // prune's edge)
    val rnd = new scala.util.Random(11)
    val docs = (1L to 80L).map { id =>
      val n = 2 + rnd.nextInt(10)
      (id, id % 3, Seq.fill(n)("w" + rnd.nextInt(6)).mkString(" "))
    }
    val base = docs.toDF("doc_id", "blk", "text")
      .withColumn("grams",
        array_distinct(TextOps.wordShingles(TextOps.words($"text"), 2)))
      .select("doc_id", "blk", "grams")
    val a = base.select($"doc_id".as("doc_a"), $"blk", $"grams".as("g_a"))
    val b = base.select($"doc_id".as("doc_b"), $"blk", $"grams".as("g_b"))
    val want = a.join(b, Seq("blk")).filter($"doc_a" < $"doc_b")
      .filter(Dedup.jaccard($"g_a", $"g_b") >= 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val got = Dedup.prefixFilterPairs(base, "doc_id", "grams", 0.6,
        blockCols = Seq("blk"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty, "fixture must plant within-block pairs")
    // and the unblocked run must find strictly more (cross-block pairs
    // exist in this fixture) — blocking semantics, not a no-op arg
    val unblocked = Dedup.prefixFilterPairs(base, "doc_id", "grams", 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(want.subsetOf(unblocked) && unblocked.size > want.size,
      s"unblocked ${unblocked.size} vs blocked ${want.size}")
  }

  test("NULL-block rows are dropped up front and never pair") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
    val in = hotGramCorpus(12)
      .withColumn("blk", when($"doc_id" < 2, lit(null: String))
        .otherwise($"blk"))
    // docs 0 and 1 are a planted pair, now NULL-blocked: gone
    val out = pairs(Dedup.prefixFilterPairs(in, "doc_id", "grams", 0.6,
      blockCols = Seq("blk")))
    assert(!out.exists(p => p._1 < 2 || p._2 < 2))
    // and identical whether the engine drops them early (contract) or
    // the null-unsafe joins would have discarded them late
    val expected = pairs(Dedup.prefixFilterPairs(
      in.filter($"blk".isNotNull), "doc_id", "grams", 0.6,
      blockCols = Seq("blk")))
    assert(out == expected)
  }

  test("prefixFilterPairs finds the cross-band pair dd6-style length blocking misses") {
    // 16 words vs 15 words straddle a floor(len/8) band boundary; the
    // pair is a genuine near-dup (J = 14/16 bigram overlap > 0.6).
    val words = (1 to 16).map(i => s"t$i")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, words.take(15).mkString(" ")),
      (3L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text")
      .withColumn("grams",
        array_distinct(TextOps.wordShingles(TextOps.words($"text"), 2)))
      .select("doc_id", "grams")
    val got = Dedup.prefixFilterPairs(docs, "doc_id", "grams", 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("lshPlan: recovers dd3's hand-tuned 3x3 split at t=0.6 and moves " +
    "monotonically with the threshold") {
    // the engine's shipped config is the sanity anchor
    assert(Dedup.lshPlan(9, 0.6) === (3, 3))
    // higher threshold → longer bands (larger r), fewer of them;
    // lower threshold → more, shorter bands
    val (bLo, rLo) = Dedup.lshPlan(12, 0.3)
    val (bHi, rHi) = Dedup.lshPlan(12, 0.9)
    assert(rLo < rHi && bLo > bHi, s"got low=($bLo,$rLo) high=($bHi,$rHi)")
    // every returned pair is a real split of the hash budget
    for (n <- Seq(6, 9, 12, 16, 20); t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val (b, r) = Dedup.lshPlan(n, t)
      assert(b * r === n, s"lshPlan($n, $t) = ($b, $r) not a split")
      // the S-curve midpoint (1/b)^(1/r) should land near t — within
      // the granularity a small divisor set allows
      val mid = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(mid - t) < 0.35, s"midpoint $mid far from $t for ($b,$r)")
    }
    // recall-weighted: overweighting false negatives never lowers the
    // collision probability at the threshold
    val (b1, r1) = Dedup.lshPlan(12, 0.6)
    val (b2, r2) = Dedup.lshPlan(12, 0.6, fnWeight = 5.0)
    def pAt(b: Int, r: Int, s: Double) =
      1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
    assert(pAt(b2, r2, 0.6) >= pAt(b1, r1, 0.6) - 1e-12)
    assert(Dedup.lshPlan(9, 0.6, fnWeight = 100.0)._2 === 1) // recall-max: 9 bands of 1
    intercept[IllegalArgumentException] { Dedup.lshPlan(1, 0.6) }
    intercept[IllegalArgumentException] { Dedup.lshPlan(9, 1.0) }
  }

  test("int8 quantization: true tinyint schema, per-component error <= s/2, " +
    "top-5 recall vs exact cosine >= 0.9 on seeded vectors") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0L until 200L).map(i =>
      (i, Seq.fill(dim)((rnd.nextGaussian() * (1 + i % 5)).toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb
      .withColumn("s", Similarity.int8Scale(col("embedding")))
      .withColumn("q8", Similarity.int8Quantize(col("embedding"), col("s")))
    // the storage claim is the TYPE: one byte per component (the slot
    // is nullable only because the scale expression is — the error-
    // bound check below proves no element is actually null)
    assert(q.schema("q8").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.ByteType)
    // dequantization error bound: |x - q*s| <= s/2 per component (the
    // round-half-up guarantee), and every component is in [-127, 127]
    val bad = q.select(col("s"),
        zip_with(col("embedding"), Similarity.int8AsDouble(col("q8")),
          (x, qd) => abs(x.cast("double") - qd * col("s"))).as("errs"),
        col("q8"))
      .filter(array_max(col("errs")) > col("s") / 2 + lit(1e-12) ||
        array_max(transform(col("q8"), v => abs(v.cast("int")))) > 127)
      .count()
    assert(bad === 0L)
    // recall of the quantized top-5 against the exact top-5
    val queries = emb.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "q_id", "q_vec", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val qCorpus = q.select(col("vec_id"),
      Similarity.int8AsDouble(col("q8")).as("qv"))
    val qQueries = qCorpus.join(queries.select(col("q_id")),
        col("vec_id") === col("q_id"))
      .select(col("q_id"), col("qv").as("q_qv"))
    val approx = Similarity.bruteForceTopK(qCorpus, "vec_id", "qv",
        qQueries, "q_id", "q_qv", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (qid, truth) =>
      approx.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"int8 top-5 mean recall $mean < 0.9 ($recalls)")
  }

  test("int8RefineTopK: recall@5 >= the pure-quantized ranking's recall " +
    "and >= 0.9, and the returned scores ARE the exact cosines (ss7)") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0L until 200L).map(i =>
      (i, Seq.fill(dim)((rnd.nextGaussian() * (1 + i % 5)).toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exactDf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", 5)
    val exact = topSets(exactDf)
    // pure-quantized top-5 (the ss6 ranking, no refine)
    val q = emb
      .withColumn("s", Similarity.int8Scale(col("embedding")))
      .withColumn("qv", Similarity.int8AsDouble(
        Similarity.int8Quantize(col("embedding"), col("s"))))
    val qCorpus = q.select(col("vec_id"), col("qv"))
    val qQueries = qCorpus.join(queries.select(col("q_id")),
        col("vec_id") === col("q_id"))
      .select(col("q_id"), col("qv").as("q_qv"))
    val pureQ = topSets(Similarity.bruteForceTopK(qCorpus, "vec_id", "qv",
      qQueries, "q_id", "q_qv", 5))
    val refinedDf = Similarity.int8RefineTopK(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", shortlist = 20, k = 5)
    val refined = topSets(refinedDf)
    def meanRecall(approx: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (qid, truth) =>
        approx.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      rs.sum / rs.size
    }
    val rQ = meanRecall(pureQ)
    val rR = meanRecall(refined)
    assert(rR >= rQ,
      s"refine must not lose recall vs the pure-quantized ranking: $rR < $rQ")
    assert(rR >= 0.9, s"int8-refine top-5 mean recall $rR < 0.9")
    // refine exactness: every returned (pair, score) matches the exact
    // brute-force cosine for that pair bit-for-bit
    val exactScores = exactDf
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val mismatches = refinedDf
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, c) =>
        exactScores.get((a, b)).exists(e => e != c)
      }
    assert(mismatches.isEmpty,
      s"refined scores diverge from exact cosine: ${mismatches.take(3).toSeq}")
  }

  test("int8RefineTopKStored: the persisted tinyint table serves results " +
    "identical to in-session quantization, and the serving scan reads " +
    "ONLY (id, tinyint array) — scale pruned, no float column (ss9)") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0L until 200L).map(i =>
      (i, Seq.fill(dim)((rnd.nextGaussian() * (1 + i % 5)).toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val stage = java.nio.file.Files.createTempDirectory("graft_ss9_spec_")
    try {
      val table = stage.resolve("int8").toString
      emb.select(col("vec_id"),
          Similarity.int8Quantize(col("embedding"),
            Similarity.int8Scale(col("embedding"))).as("q8"),
          Similarity.int8Scale(col("embedding")).cast("float").as("scale"))
        .write.mode("overwrite").parquet(table)
      val fromStored = Similarity.int8RefineTopKStored(
        spark.read.parquet(table), "vec_id", "q8",
        emb, "embedding", queries, "q_id", "q_vec", shortlist = 20, k = 5)
      val inSession = Similarity.int8RefineTopK(emb, "vec_id", "embedding",
        queries, "q_id", "q_vec", shortlist = 20, k = 5)
      def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Double, Int)].collect().toSeq
      assert(rowsOf(fromStored) === rowsOf(inSession),
        "stored-table serving must be hash-identical to in-session quantization")
      // the ONLY file scan in the stored plan is the int8 parquet; its
      // ReadSchema must carry the tinyint array and neither the pruned
      // scale column nor any float vector — the 100 TB scan envelope
      val readSchemas = fromStored.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
        .linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(readSchemas.nonEmpty, "expected a parquet scan in the stored plan")
      readSchemas.foreach { l =>
        assert(l.contains("array<tinyint>"), s"serving scan not tinyint: $l")
        assert(!l.contains("float"), s"serving scan reads a float column: $l")
        assert(!l.contains("scale"), s"serving scan reads the pruned scale: $l")
      }
    } finally graft.LocalRun.deleteRecursively(stage)
  }

  test("int8 shortlist plan: recall CDF monotone, int8ShortlistFor minimal " +
    "for its target, and the planned depth hits the target end-to-end " +
    "on the sample queries (r13 ask #4)") {
    // unit points on a crafted rank multiset
    val ranks = Array(1, 1, 2, 3, 5, 8, 8, 13, 21, 40)
    val k = 5
    val cdf = (1 to 45).map(s => Similarity.int8CoarseRecallAt(ranks, s))
    assert(cdf.zip(cdf.tail).forall { case (a, b) => a <= b },
      "recall CDF must be non-decreasing in shortlist")
    assert(Similarity.int8CoarseRecallAt(ranks, 8) === 0.7)
    for (t <- Seq(0.1, 0.5, 0.7, 0.9, 1.0)) {
      val s = Similarity.int8ShortlistFor(ranks, k, t)
      assert(Similarity.int8CoarseRecallAt(ranks, s) >= t,
        s"planned shortlist $s misses target $t")
      assert(s == k || Similarity.int8CoarseRecallAt(ranks, s - 1) < t,
        s"planned shortlist $s not minimal for target $t")
    }
    // end-to-end: plan on a bounded md5-sample OF THE QUERY WORKLOAD
    // (not corpus rows — the r14 bench_scale mis-plan lesson recorded
    // in int8TrueNeighborRanks' scaladoc), then run the refine chain
    // at the planned depth AGAINST THE SAMPLE QUERIES — recall must be
    // exactly the CDF the plan promised (here target 1.0)
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map(i =>
      (i, Seq.fill(16)((rnd.nextGaussian() * (1 + i % 5)).toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val workload = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val sampleN = 6
    val measured = Similarity.int8TrueNeighborRanks(emb, "vec_id", "embedding",
      workload, "q_id", "q_vec", k, sampleN)
    assert(measured.length === sampleN * k)
    assert(measured.forall(_ >= 1))
    val planned = Similarity.int8ShortlistFor(measured, k, 1.0)
    // the same md5-smallest workload sample the plan measured
    val sampleQ = workload
      .withColumn("__h", md5(col("q_id").cast("string")))
      .orderBy("__h").limit(sampleN)
      .select(col("q_id"), col("q_vec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        sampleQ, "q_id", "q_vec", k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val refined = Similarity.int8RefineTopK(emb, "vec_id", "embedding",
        sampleQ, "q_id", "q_vec", shortlist = planned, k = k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(refined === exact,
      s"planned shortlist $planned should give recall 1.0 on the sample")
  }

  test("zero-norm contract (r14 ADVICE): a zero-norm vector is dropped " +
    "uniformly across the ANN family — no ANSI DIVIDE_BY_ZERO, never " +
    "ranked — and the planner's rank multiset stays full-size, with " +
    "rank-infinity entries depressing (never shrinking) the CDF") {
    val rnd = new scala.util.Random(13)
    val dim = 8
    val base = (0L until 60L).map(i =>
      (i, Seq.fill(dim)((rnd.nextGaussian() * (1 + i % 3)).toFloat)))
    // id 999: an all-zero vector — zero norm, undefined cosine; under
    // ANSI (Spark 4 default) the unguarded 0/0 is a hard error that
    // would kill the whole query
    val emb = (base :+ ((999L, Seq.fill(dim)(0.0f)))).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 20 === 0 && col("vec_id") < 900)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // exact baseline and the quantized-refine serving path both run
    // (no DIVIDE_BY_ZERO) and neither ever ranks the degenerate row
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "q_id", "q_vec", 5)
      .select("neighbor_id", "cos_sim").as[(Long, Double)].collect()
    val got = Similarity.int8RefineTopK(emb, "vec_id", "embedding",
        queries, "q_id", "q_vec", shortlist = 10, k = 5)
      .select("neighbor_id", "cos_sim").as[(Long, Double)].collect()
    for ((name, res) <- Seq("exact" -> exact, "refined" -> got)) {
      assert(res.nonEmpty, s"$name returned nothing")
      assert(!res.exists(_._1 == 999L),
        s"$name ranked the zero-norm corpus row")
      assert(res.forall(r => !r._2.isNaN), s"$name produced NaN scores")
    }
    // planner side: the rank multiset keeps one entry per (sample
    // query, true neighbor) pair — exact and coarse passes agree on
    // the dropped set (nonzero floats always quantize nonzero), and a
    // hypothetical unrecoverable neighbor counts as rank ∞ (a recall
    // miss), never vanishing from the denominator
    val k = 5
    val sampleN = 3
    val ranks = Similarity.int8TrueNeighborRanks(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", k, sampleN)
    assert(ranks.length === sampleN * k,
      s"every (query, true-neighbor) pair must keep a rank: got ${ranks.length}")
    assert(Similarity.int8CoarseRecallAt(
      ranks :+ Int.MaxValue, 1000000) < 1.0,
      "a rank-∞ miss must cap the CDF below 1 at every finite depth")
  }

  test("ivfInt8RefineTopKStored: serving from the persisted IVF index " +
    "(cells + centroids tables) is row-identical to the in-session " +
    "index, and the only float file scan is NONE — the inverted-file " +
    "scan reads (id, cell, tinyint array) and centroids are truncated " +
    "doubles (ss10)") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0L until 200L).map(i =>
      (i, i % 4, Seq.fill(dim)((rnd.nextGaussian() * (1 + i % 5)).toFloat)))
    val emb = rows.toDF("vec_id", "label", "embedding")
    // trunc-6 label-mean centroids — the ss2/ss8/ss10 rule
    val centroids = emb
      .select(col("label").as("cell"), col("embedding"))
      .groupBy("cell")
      .agg(array((0 until dim).map(i =>
        (floor(avg(element_at(col("embedding"), i + 1)) * 1e6 + 1e-6) / 1e6)): _*)
        .as("cent_vec"))
    val cellCorpus = Similarity.assignCells(emb.select("vec_id", "embedding"),
      "vec_id", "embedding", centroids, "cell", "cent_vec")
    val queries = emb.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val stage = java.nio.file.Files.createTempDirectory("graft_ss10_spec_")
    try {
      centroids.write.mode("overwrite")
        .parquet(stage.resolve("centroids").toString)
      cellCorpus
        .select(col("vec_id"), col("cell"),
          Similarity.int8Quantize(col("embedding"),
            Similarity.int8Scale(col("embedding"))).as("q8"))
        .write.mode("overwrite").parquet(stage.resolve("cells").toString)
      val fromStored = Similarity.ivfInt8RefineTopKStored(
        spark.read.parquet(stage.resolve("cells").toString), "vec_id", "q8", "cell",
        spark.read.parquet(stage.resolve("centroids").toString), "cent_vec",
        emb.select("vec_id", "embedding"), "embedding",
        queries, "q_id", "q_vec", nProbe = 2, shortlist = 12, k = 3)
      val inSession = Similarity.ivfInt8RefineTopK(
        cellCorpus, "vec_id", "embedding", "cell",
        centroids, "cent_vec",
        queries, "q_id", "q_vec", nProbe = 2, shortlist = 12, k = 3)
      def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Double, Int)].collect().toSeq
      assert(rowsOf(fromStored) === rowsOf(inSession),
        "stored-index serving must be row-identical to the in-session index")
      // scan-envelope pin: the float corpus and queries live in memory
      // here, so every FILE scan in the stored plan is an index table —
      // the inverted file (tinyint codes) and the centroid table
      // (truncated doubles). No file scan may read a float vector.
      val readSchemas = fromStored.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
        .linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(readSchemas.nonEmpty, "expected index-table scans in the plan")
      assert(readSchemas.exists(_.contains("array<tinyint>")),
        s"no inverted-file scan found: $readSchemas")
      readSchemas.foreach { l =>
        assert(!l.contains("float"),
          s"an index scan reads a float vector column: $l")
      }
    } finally graft.LocalRun.deleteRecursively(stage)
  }

  test("int8NearDupPairs: batch-vs-index and batch-self replicas found " +
    "with side labels, negated/novel vectors silent, the coarse gate " +
    "reads only the stored tinyint codes (st16)") {
    val rnd = new scala.util.Random(19)
    val dim = 16
    val base = (0L until 50L).map(i =>
      (i, Seq.fill(dim)((rnd.nextGaussian() * (1 + i % 5)).toFloat)))
    val emb = base.toDF("vec_id", "embedding")
    def q8of(c: org.apache.spark.sql.Column) =
      Similarity.int8Quantize(c, Similarity.int8Scale(c))
    val stage = java.nio.file.Files.createTempDirectory("graft_st16_spec_")
    try {
      emb.select(col("vec_id"), col("embedding"), q8of(col("embedding")).as("q8"))
        .write.mode("overwrite").parquet(stage.resolve("idx").toString)
      val idx = spark.read.parquet(stage.resolve("idx").toString)
      // batch: replica of 7 (twice — a self pair), negation of 9 (silent)
      val batch = Seq(
        (1007L, base(7)._2),
        (2007L, base(7)._2),
        (3009L, base(9)._2.map(x => -x))
      ).toDF("vec_id", "embedding")
      val got = Similarity.int8NearDupPairs(
          idx.select("vec_id", "q8"), "vec_id", "q8",
          idx.select("vec_id", "embedding"), "embedding",
          batch, "vec_id", "embedding", 0.98, 0.99)
        .as[(Long, Long, String, Double)].collect()
        .map(r => (r._1, r._2, r._3)).toSet
      assert(got === Set(
        (1007L, 7L, "existing"),
        (2007L, 7L, "existing"),
        (1007L, 2007L, "new")),
        s"unexpected pair set: $got")
      // scan-envelope pin: the only file scans a pairs plan may read
      // with a float column are the point-lookup verify arms — the
      // CROSS (coarse) side must be the tinyint projection. Assert the
      // coarse gate's index scan exists with no embedding column.
      val plan = Similarity.int8NearDupPairs(
          idx.select("vec_id", "q8"), "vec_id", "q8",
          idx.select("vec_id", "embedding"), "embedding",
          batch, "vec_id", "embedding", 0.98, 0.99)
        .queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(schemas.exists(l =>
        l.contains("array<tinyint>") && !l.contains("embedding")),
        s"no tinyint-only coarse scan found: $schemas")
    } finally graft.LocalRun.deleteRecursively(stage)
  }

  test("ss12 planner wiring: the served query's coarse depth IS " +
    "plannedShortlist's output (plan-literal pin), and serving at that " +
    "depth meets the recall target on the planner's own workload sample " +
    "end-to-end (r14 ask #5)") {
    val d = "/root/testdata/sf0.001"
    val planned = graft.queries.SearchQueries.plannedShortlist(spark, d)
    val k = graft.queries.SearchQueries.PlannedK
    assert(planned >= k, s"planned depth $planned below k=$k")
    // the registered query's physical plan carries the planned depth
    // as the coarse rank bound — the literal the verdict asked to pin
    val df = graft.SparkEntry.queries("ss12_int8_planned_topk")(spark, d)
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains(s"<= $planned)"),
      s"coarse rank bound <= $planned not found in ss12's plan")
    // end-to-end: at the planned depth, the refine chain recovers the
    // exact top-k for the sample queries at >= the planned target
    val emb = graft.Tables.embeddings(spark, d)
    val workload = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val sample = workload
      .withColumn("__h", md5(col("q_id").cast("string")))
      .orderBy("__h").limit(graft.queries.SearchQueries.PlannedSampleN)
      .select("q_id", "q_vec")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        sample, "q_id", "q_vec", k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val served = Similarity.int8RefineTopK(emb, "vec_id", "embedding",
        sample, "q_id", "q_vec", shortlist = planned, k = k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = served.intersect(exact).size.toDouble / exact.size
    assert(recall >= graft.queries.SearchQueries.PlannedTarget,
      s"recall $recall at planned depth $planned below target")
  }

  test("sharedSpanPairs: cross-doc duplicated-gram pairs found, " +
    "within-doc repeats alone pair nothing, unrelated docs silent (llm6)") {
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, s"alpha $eight omega"),
      (2L, s"beta $eight gamma"),         // shares the 8-gram with 1
      (3L, s"$eight tail $eight"),        // internal repeat AND shares with 1/2
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x9"), // internal-only unique grams
      (5L, "y1 y2 y3 y4 y5 y6 y7 y8")     // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.sharedSpanPairs(docs, "doc_id", "text", k = 8)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"unexpected pair set: $got")
  }

  test("int8 storage claim measured: quantized parquet <= 40% of float32 parquet") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 2000L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb
      .withColumn("s", Similarity.int8Scale(col("embedding")).cast("float"))
      .withColumn("q8", Similarity.int8Quantize(col("embedding"), col("s")))
      .select("vec_id", "s", "q8")
    val dir = java.nio.file.Files.createTempDirectory("graft-int8-size")
    def sizeOf(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val p = dir.resolve(name)
      df.repartition(1).write.mode("overwrite").parquet(p.toString)
      p.toFile.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    // random gaussians are incompressible, so the ratio measures the
    // honest encoding width (1 byte + shared scale vs 4 bytes), not a
    // compression artifact of repetitive fixtures
    val f32 = sizeOf(emb, "f32")
    val i8 = sizeOf(q, "i8")
    graft.LocalRun.deleteRecursively(dir)
    assert(i8.toDouble / f32 <= 0.40,
      s"int8 parquet $i8 B vs float32 $f32 B = ${i8.toDouble / f32}")
  }

  test("exactDedup keeps min id and counts copies") {
    val df = Seq((1L, "xx"), (5L, "xx"), (3L, "yy")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "text", "doc_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (3L, 1L)))
  }

  test("minhash: identical docs share the full signature; near-dups share most of it") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // identical
      (3L, "the quick brown fox jumps over the lazy dog again and once"), // near
      (4L, "completely different words appear in this unrelated document body")
    ).toDF("doc_id", "text")
    val sigs = docs
      .withColumn("sig", Dedup.minhashSig(TextOps.wordShingles(TextOps.words($"text"), 3), 12))
      .select("doc_id", "sig").as[(Long, Seq[String])].collect().toMap
    assert(sigs(1L) === sigs(2L))
    val nearAgree = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(nearAgree >= 6, s"near-dup should agree on most minhashes, got $nearAgree/12")
    val farAgree = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(farAgree === 0, s"unrelated docs should share ~no minhashes, got $farAgree/12")
  }

  test("LSH banding finds the identical pair without an all-pairs join") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val base = docs
      .withColumn("sig", Dedup.minhashSig(TextOps.wordShingles(TextOps.words($"text"), 3), 9))
      .withColumn("bands", Dedup.bandKeys($"sig", 3, 3))
    val pairs = Dedup.lshCandidatePairs(base, "doc_id", "bands")
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("lshCandidatePairs: salted ≡ plain on a boilerplate-heavy fixture (hot band)") {
    // 90% of docs share one "hot" band (the boilerplate hazard named in
    // the Dedup scaladoc); the rest scatter. The salted plan must emit
    // EXACTLY the plain plan's candidate set — salting only respreads
    // the shuffle, never the semantics.
    val docs = spark.range(200).select(
      col("id").as("doc_id"),
      when(col("id") % 10 < 9,
        array(lit("hot"), concat(lit("u"), col("id") % 7)))
        .otherwise(array(concat(lit("c"), col("id") % 5),
          concat(lit("u"), col("id") % 7))).as("bands"))
    val plain = Dedup.lshCandidatePairs(docs, "doc_id", "bands")
      .as[(Long, Long)].collect().toSet
    val salted = Dedup.lshCandidatePairs(docs, "doc_id", "bands", saltBuckets = 8)
      .as[(Long, Long)].collect().toSet
    assert(salted === plain)
    assert(plain.size > 1000) // the hot band really did fan out
  }

  test("connectedComponents: chains (diameter > 1), separate groups, min-id labels") {
    // component A is a CHAIN 1-2-3-4 (label must propagate 3 hops, the
    // case a single nbr-min pass gets wrong); component B is a pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: maxRounds too small for the diameter fails loudly") {
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "doc_a", "doc_b", maxRounds = 2)
    }
    // storage discipline on the throw path: the catch-and-retry-with-
    // star flow must not leave the last round's checkpoint (or the
    // edges cache) pinned. unpersist is async — poll briefly.
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def leaked: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- pinnedBefore
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"pinned RDDs leaked past the failure: $leaked")
    // and the honest bound converges
    val ok = Dedup.connectedComponents(chain, "doc_a", "doc_b", maxRounds = 10)
      .as[(Long, Long)].collect()
    assert(ok.forall(_._2 == 1L) && ok.length === 8)
  }

  test("connectedComponentsStar: diameter-50 chain converges in O(log n) rounds " +
      "where hash-min's default 25-round bound fails") {
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // hash-min rounds = diameter: the default bound must fail LOUDLY here
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "doc_a", "doc_b") // maxRounds = 25
    }
    // alternating large/small-star: 8 rounds >= ~log2(50) with margin
    val got = Dedup.connectedComponentsStar(chain, "doc_a", "doc_b", maxRounds = 8)
      .as[(Long, Long)].collect()
    assert(got.length === 51 && got.forall(_._2 == 0L))
  }

  test("connectedComponentsStar ≡ connectedComponents on a multi-component graph " +
      "(chains, cliques, self-loop-only vertex)") {
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),              // chain component
      (10L, 11L), (11L, 12L), (10L, 12L),        // triangle
      (20L, 21L),                                // pair
      (30L, 30L)                                 // self-loop-only vertex
    ).toDF("doc_a", "doc_b")
    val viaStar = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val viaHashMin = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(viaStar === viaHashMin)
    assert(viaStar(30L) === 30L) // self-loop vertex kept, labels itself
    assert(viaStar === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("stratifiedQuota: respects the quota, invariant to partition layout, no rand()") {
    val df = (1L to 200L).map(i => (s"lang${i % 3}", i)).toDF("lang", "doc_id")
    val a = Sampling.stratifiedQuota(df, "lang", "doc_id", 5)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    val b = Sampling.stratifiedQuota(df.repartition(13), "lang", "doc_id", 5)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    assert(a === b, "selection must not depend on partitioning")
    assert(a.groupBy(_._1).forall(_._2.size == 5))
  }

  test("weightedSample: E-S key formula exact, layout-invariant, extreme weights dominate, uniform weights = hash order") {
    val df = (1L to 300L).map(i => (s"lang${i % 2}", i)).toDF("lang", "doc_id")
    // key formula vs an independent Scala restatement for a few ids
    def refKey(id: Long, w: Double): Double = {
      val h = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16)
      math.pow((h + 1).toDouble / math.pow(2.0, 60), 1.0 / w)
    }
    val keys = df.limit(0).sparkSession.range(1, 4).toDF("doc_id")
      .select(col("doc_id"),
        Sampling.weightedKey(col("doc_id"), lit(0.7)).as("k"))
      .as[(Long, Double)].collect().toMap
    (1L to 3L).foreach(i => assert(keys(i) === refKey(i, 0.7), s"id=$i"))
    // layout invariance
    val sel = Sampling.weightedSample(df, "lang", "doc_id", lit(0.5) +
      (col("doc_id") % 3).cast("double") / 10, 7)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    val sel2 = Sampling.weightedSample(df.repartition(11), "lang", "doc_id",
      lit(0.5) + (col("doc_id") % 3).cast("double") / 10, 7)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    assert(sel === sel2, "selection must not depend on partitioning")
    assert(sel.groupBy(_._1).forall(_._2.size == 7))
    // extreme weight ratio: heavy rows (w=1000) crowd out light (w=0.001)
    val heavy = Sampling.weightedSample(df, "lang", "doc_id",
      when(col("doc_id") <= 20, 1000.0).otherwise(0.001), 7)
      .select("doc_id").as[Long].collect()
    assert(heavy.forall(_ <= 20L), s"light rows beat w-ratio 10^6: ${heavy.mkString(",")}")
    // k >= stratum size keeps every row (no spurious drops at the rank edge)
    val uni = Sampling.weightedSample(df, "lang", "doc_id", lit(1.0), 150)
    assert(uni.count() === 300L)
    // clash guard: an existing rk/es_key column must be rejected
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(df.withColumn("rk", lit(1)), "lang", "doc_id",
        lit(1.0), 5)
    }
  }

  test("hashSplit: deterministic, exhaustive labels, proportions near the weights") {
    val ids = (1L to 2000L).toDF("doc_id")
    val split = Sampling.hashSplit(col("doc_id"),
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val counts = ids.select(split.as("s")).groupBy("s").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts.values.sum === 2000L) // no row unlabeled
    assert(math.abs(counts("train") - 1600L) < 100, s"counts=$counts")
    // same id → same split on a reshuffled frame
    val again = ids.repartition(7).select(col("doc_id"), split.as("s"))
      .as[(Long, String)].collect().toMap
    val first = ids.select(col("doc_id"), split.as("s"))
      .as[(Long, String)].collect().toMap
    assert(again === first)
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(col("doc_id"), Seq("a" -> 50, "b" -> 40))
    }
  }

  test("packBins: offsets are a running sum in hash order, straddles flagged, zero-token safe") {
    val docs = Seq(("a", 1L, 300L), ("a", 2L, 300L), ("a", 3L, 0L), ("b", 9L, 1100L))
      .toDF("lang", "doc_id", "n_tokens")
    val got = Packing.packBins(docs, "lang", "doc_id", "n_tokens", 512)
      .select("doc_id", "start_tok", "bin_first", "bin_last", "spans_boundary")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // stratum a lays out in md5(id) order; whatever that order, offsets
    // must be 0 and 300 for the two 300-token docs (the 0-token doc
    // contributes nothing) and exactly one of them straddles bin 0/1
    val aOffsets = Seq(1L, 2L).map(got(_)._1).sorted
    assert(aOffsets === Seq(0L, 300L))
    assert(Seq(1L, 2L).count(id => got(id)._4) === 1, s"got $got")
    // the 1100-token doc alone in stratum b spans bins 0..2
    assert(got(9L) === ((0L, 0L, 2L, true)))
    // zero-token doc: bin_last clamped to bin_first, no straddle
    val z = got(3L)
    assert(z._2 === z._3 && !z._4)
    // layout invariant to partitioning
    val re = Packing.packBins(docs.repartition(5), "lang", "doc_id", "n_tokens", 512)
      .select("doc_id", "start_tok").as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 9L).forall(id => re(id) === got(id)._1))
  }

  test("packBinsSharded: per shard, bookkeeping equals packBins on that shard's subset") {
    val docs = (1L to 300L)
      .map(i => (s"s${i % 2}", i, i % 7 + 1)).toDF("lang", "doc_id", "n_tokens")
    val shards = 4
    val sharded = Packing
      .packBinsSharded(docs, "lang", "doc_id", "n_tokens", 16, shards)
      .select("lang", "shard", "doc_id", "start_tok", "bin_first", "bin_last")
      .as[(String, Int, Long, Long, Long, Long)].collect()
    assert(sharded.map(_._2).distinct.sorted.toSeq === (0 until shards))
    // sharding ≡ running the UNSHARDED kernel on each shard's subset:
    // the shard key only narrows the stream, never changes the layout
    for (sh <- 0 until shards) {
      val ids = sharded.filter(_._2 == sh).map(_._3).toSet
      val expected = Packing
        .packBins(docs.filter(col("doc_id").isin(ids.toSeq: _*)),
          "lang", "doc_id", "n_tokens", 16)
        .select("doc_id", "start_tok", "bin_first", "bin_last")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      sharded.filter(_._2 == sh).foreach { case (_, _, id, st, bf, bl) =>
        assert((st, bf, bl) === expected(id), s"doc $id shard $sh")
      }
    }
  }

  test("simhash: identical → hamming 0; one-word change → small; unrelated → large") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and runs home fast",
      "the quick brown fox jumps over the lazy dog and runs home quick",
      "entirely disjoint vocabulary with nothing shared whatsoever here today"
    ).toDF("t").withColumn("sh", Dedup.simhash64(TextOps.words($"t")))
    val hs = df.select("sh").as[Long].collect()
    assert(Dedup.hamming64(lit(hs(0)), lit(hs(0))) != null) // expression builds
    val near = java.lang.Long.bitCount(hs(0) ^ hs(1))
    val far = java.lang.Long.bitCount(hs(0) ^ hs(2))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 16, s"one-word change should be close, got $near")
  }

  test("cosine: orthogonal → 0, identical → 1, known angle") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 0f), Seq(1f, 0f)),
      (Seq(1f, 0f), Seq(1f, 1f))
    ).toDF("a", "b")
    val out = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(out(0)) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
    assert(math.abs(out(2) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("bruteForceTopK: deterministic neighbors on a crafted corpus") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1f, 0f))).toDF("q_id", "q_vec")
    val out = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "q_id", "q_vec", 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq
    assert(out === Seq((2L, 1), (3L, 2)))
  }

  test("IVF recall@3 >= 0.9 vs brute force on clustered vectors (the scale-path contract)") {
    // IVF's recall promise holds for CLUSTERED data (real embedding
    // spaces); on the driver's uniform-random test vectors recall is
    // structurally poor (~0.5 measured) — so the contract is asserted
    // on a deterministic 8-cluster fixture.
    val rnd = new scala.util.Random(23)
    val dim = 16
    val rows = for (c <- 0 until 8; i <- 0 until 30) yield {
      val center = Array.tabulate(dim)(j => if (j % 8 == c % 8) 5f else 0f)
      val vec = center.map(v => v + rnd.nextGaussian().toFloat * 0.3f).toSeq
      ((c * 30 + i).toLong, c, vec)
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val centroids = emb.select($"label".as("cell"), $"embedding")
      .groupBy("cell")
      .agg(array((0 until dim).map(i => avg(element_at($"embedding", i + 1))): _*).as("cent_vec"))
    val cellCorpus = Similarity.assignCells(emb, "vec_id", "embedding", centroids, "cell", "cent_vec")
    val queries = emb.filter($"vec_id" % 24 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val ivf = Similarity.ivfTopK(cellCorpus, "vec_id", "embedding", "cell",
      centroids, "cent_vec", queries, "q_id", "q_vec", nProbe = 2, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bf.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@3 = $mean")
  }

  test("IVF-PQ recall@5 >= 0.9 vs brute force on clustered vectors; codes bounded; encode deterministic") {
    // PQ's promise is recovering STRUCTURE up to quantization, not
    // ranking isotropic noise (quantized distances of i.i.d.-noise
    // neighborhoods are intrinsically near-ties — measured ~0.2 recall
    // on the IVF test's noise-ball fixture, correctly). So the fixture
    // has two-level structure: 8 clusters × 5 subclusters (a 2.0
    // offset dim per subcluster, σ=0.05 noise) — true neighbors are
    // subcluster mates, and codebooks with enough codewords per
    // subspace must separate the subcluster modes.
    val rnd = new scala.util.Random(29)
    val dim = 16; val M = 4; val subDim = 4
    val rows = for (c <- 0 until 8; i <- 0 until 30) yield {
      val od = ((c + 1 + i % 5) % 8) + 8 // subcluster offset dimension
      val vec = Array.tabulate(dim) { j =>
        (if (j % 8 == c % 8) 5f else 0f) +
          (if (j == od) 2f else 0f) +
          rnd.nextGaussian().toFloat * 0.05f
      }.toSeq
      ((c * 30 + i).toLong, c, vec)
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    // REAL per-subspace Lloyd codebooks on the md5-ordered sample —
    // label-mean codewords have no within-cluster resolution, so ADC
    // would tie inside a cell and recall would be ~random (caught by
    // an earlier version of this test). ks=32 covers the ~25 distinct
    // (cluster hot dim × subcluster offset) modes per subspace.
    val ks = 32
    val codebook = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
        M, subDim, ks, sampleN = rows.length)
      .map { case (m0, cid, v) => (m0, cid, v.toSeq) }
      .toDF("pq_m", "pq_cid", "pq_vec")
    val centroids = emb.select($"label".as("cell"), $"embedding")
      .groupBy("cell")
      .agg(array((0 until dim).map(i =>
        avg(element_at($"embedding", i + 1))): _*).as("cent_vec"))
    val codes = Similarity.pqEncode(emb.withColumn("cell", $"label"),
      "vec_id", "embedding", codebook, M, subDim, carry = Seq("cell"))
    // M codes per vector, each cid a real codeword, layout-invariant
    val enc = codes.as[(Long, Int, Int, Int)].collect()
    assert(enc.length === rows.length * M)
    assert(enc.forall { case (_, _, m, cid) => m >= 0 && m < M && cid >= 0 && cid < ks })
    val enc2 = Similarity.pqEncode(emb.repartition(7).withColumn("cell", $"label"),
      "vec_id", "embedding", codebook, M, subDim, carry = Seq("cell"))
      .as[(Long, Int, Int, Int)].collect()
    assert(enc.sortBy(r => (r._1, r._3)).toSeq === enc2.sortBy(r => (r._1, r._3)).toSeq)
    val queries = emb.filter($"vec_id" % 24 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    // recall is asserted at k=5 (= subcluster-mate count): quantization
    // deliberately COLLAPSES within-subcluster noise, so ADC ties among
    // mates and top-3-of-5-ties vs exact cosine is structurally ~0.6 —
    // the PQ contract is recovering the NEIGHBORHOOD at quantization
    // resolution, and at k=5 the tie class and the truth set coincide
    val pq = Similarity.ivfPqTopK(codes, "vec_id", "cell", codebook,
      centroids, "cent_vec", queries, "q_id", "q_vec",
      M, subDim, nProbe = 2, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bf.map { case (q, truth) =>
      pq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean IVF-PQ recall@5 = $mean")

    // the refine step (FAISS shortlist re-rank) restores EXACT order
    // inside the quantization tie class: ADC top-5 shortlist re-scored
    // with exact cosine recovers brute force's top-3
    val refined = Similarity.pqRefineTopK(
      Similarity.ivfPqTopK(codes, "vec_id", "cell", codebook,
        centroids, "cent_vec", queries, "q_id", "q_vec",
        M, subDim, nProbe = 2, k = 5),
      emb, "vec_id", "embedding", queries, "q_id", "q_vec", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf3 = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rr = bf3.map { case (q, t) =>
      refined.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    assert(rr.sum / rr.size >= 0.9, s"refined recall@3 = ${rr.sum / rr.size}")
  }

  test("hyperplane LSH recall@3 >= 0.8 vs brute force on clustered vectors; near-identical pairs always collide") {
    // same 8-cluster fixture shape as the IVF test: the (1 - θ/π)^bits
    // collision law only buys recall when neighbors subtend small
    // angles, i.e. clustered data.
    val rnd = new scala.util.Random(31)
    val dim = 16
    val rows = for (c <- 0 until 8; i <- 0 until 30) yield {
      val center = Array.tabulate(dim)(j => if (j % 8 == c % 8) 5f else 0f)
      val vec = center.map(v => v + rnd.nextGaussian().toFloat * 0.3f).toSeq
      ((c * 30 + i).toLong, c, vec)
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val queries = emb.filter($"vec_id" % 24 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val lsh = Similarity.hyperplaneTopK(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", dim = dim, tables = 4, bits = 6, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bf.map { case (q, truth) =>
      lsh.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@3 = $mean")
    // a vector and its tiny perturbation (θ≈0) must meet in ≥1 table
    val base = emb.limit(5)
      .select($"vec_id" + 10000L, transform($"embedding", x => x + lit(0.01f)))
      .toDF("vec_id", "embedding")
    val nearQ = base.select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val hits = Similarity.hyperplaneTopK(
      emb.select("vec_id", "embedding").unionAll(base), "vec_id", "embedding",
      nearQ, "q_id", "q_vec", dim = dim, tables = 4, bits = 6, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    base.select("vec_id").as[Long].collect().foreach { q =>
      assert(hits.get(q).contains(q - 10000L), s"near-dup $q missed: $hits")
    }
  }

  test("md5Hash64 bit-matches DuckDB's CAST('0x'||md5[1:16] AS UBIGINT), incl. the sign bit") {
    // pinned against duckdb: 'hello' → 0x5d41402abc4b2a76; 'the' →
    // 0x8fc42c6ddf9966db (top bit set — the two-half assembly must
    // land it in the long's sign bit, not overflow)
    val out = Seq("hello", "the").toDF("w")
      .select(Dedup.md5Hash64($"w")).as[Long].collect()
    assert(out(0) === 6719722671305337462L)
    assert(out(1) === -8087290180436138277L)
  }

  test("simhash over md5Hash64 still detects planted one-word mutations (the dd4 contract)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1000001L, "the quick brown fox jumps over the lazy dog again and again now"), // 1-word mutation
      (2L, "completely unrelated content with different vocabulary and structure entirely")
    ).toDF("doc_id", "text")
    val sims = docs
      .withColumn("sim", Dedup.simhash64(TextOps.words($"text"), Dedup.md5Hash64))
      .select("doc_id", "sim").as[(Long, Long)].collect().toMap
    val near = spark.range(1).select(
      Dedup.hamming64(lit(sims(1L)), lit(sims(1000001L)))).as[Int].head()
    val far = spark.range(1).select(
      Dedup.hamming64(lit(sims(1L)), lit(sims(2L)))).as[Int].head()
    assert(near <= 12, s"planted mutation must stay within hamming 12, got $near")
    assert(far > 12, s"unrelated docs must exceed hamming 12, got $far")
  }

  test("simhash64 on a NULL word array returns 0L (the original fold-form contract)") {
    val out = Seq(Tuple1("x")).toDF("t")
      .select(Dedup.simhash64(lit(null).cast("array<string>"))).head()
    assert(!out.isNullAt(0) && out.getLong(0) === 0L)
  }

  test("hyperplaneTopK fails fast on bad bits and yields EMPTY (not quadratic) on wrong dim") {
    val emb = Seq((1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)), (2L, Seq(4.0f, 3.0f, 2.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = emb.select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    assertThrows[IllegalArgumentException] {
      Similarity.hyperplaneTopK(emb, "vec_id", "embedding", q, "q_id", "q_vec",
        dim = 4, tables = 1, bits = 32, k = 1)
    }
    // dim mismatch: buckets go null, null join keys match nothing —
    // the safe failure mode (empty result), never an all-pairs join
    val wrongDim = Similarity.hyperplaneTopK(emb, "vec_id", "embedding",
      q, "q_id", "q_vec", dim = 7, tables = 2, bits = 4, k = 1)
    assert(wrongDim.count() === 0)
  }

  test("axisSignBuckets: disjoint-group tables collide deterministically under a 1-component perturbation") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val perturbed = base.clone(); perturbed(0) = -base(0) - 1.0f // flip the sign of component 1
    val other = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = Seq((1L, base.toSeq), (2L, perturbed.toSeq), (3L, other.toSeq),
      (4L, Seq(1.0f, 2.0f))) // short vector: buckets must go null, not 0
    val out = rows.toDF("vec_id", "embedding")
      .select($"vec_id", explode(Similarity.axisSignBuckets($"embedding", 4, 16)).as("tb"))
      .select($"vec_id", $"tb.t", $"tb.b")
      .as[(Long, Int, Option[Int])].collect()
    val byId = out.groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    // component 1 lives in table 0 only: tables 1-3 identical, table 0 differs
    assert(byId(1L)(0) !== byId(2L)(0))
    (1 to 3).foreach(t => assert(byId(1L)(t) === byId(2L)(t), s"table $t must collide"))
    // a genuinely different vector shares no guarantee (sanity: at least one table differs)
    assert((0 to 3).exists(t => byId(1L)(t) !== byId(3L)(t)))
    // short vector: every bucket null → equi-join drops it (never bucket 0)
    (0 to 3).foreach(t => assert(byId(4L)(t).isEmpty, s"short vector table $t must be null"))
  }

  test("NaN components take the >=0 bucket bit (DuckDB NaN-sorts-greatest parity), nulls still drop") {
    val rnd = new scala.util.Random(13)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val nanV = base.clone(); nanV(1) = Float.NaN
    val posV = base.clone(); posV(1) = 1.0f // the bucket NaN must match
    val rows = Seq((1L, nanV.toSeq), (2L, posV.toSeq))
    val byId = rows.toDF("vec_id", "embedding")
      .select($"vec_id", explode(Similarity.axisSignBuckets($"embedding", 4, 16)).as("tb"))
      .select($"vec_id", $"tb.t", $"tb.b")
      .as[(Long, Int, Option[Int])].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    (0 to 3).foreach { t =>
      assert(byId(1L)(t).nonEmpty, s"NaN vector table $t must not be null")
      assert(byId(1L)(t) === byId(2L)(t), s"NaN must bucket as >=0 in table $t")
    }
    // hyperplane variant: a NaN component poisons every dot product to
    // NaN, so every bit sets — full-ones bucket, never null/dropped
    val planes = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val hb = Seq((1L, Seq(Float.NaN, 1.0f))).toDF("vec_id", "embedding")
      .select(Similarity.hyperplaneBucket($"embedding", planes).as("b"))
      .as[Option[Int]].head()
    assert(hb === Some(3))
  }

  test("HyperplaneBuckets kernel ≡ the literal hyperplaneBucket spec per " +
    "table: random vectors, NaN components, null elements, dim mismatch") {
    val tables = 3; val bits = 7; val dim = 5
    val planes = Similarity.hyperplaneTables(dim, tables, bits, seed = 9L)
    val rnd = new scala.util.Random(31)
    val vecs: Seq[(Long, Seq[Option[Float]])] =
      (0L until 40L).map(i => i -> Seq.fill(dim)(Some(rnd.nextGaussian().toFloat))) ++
        Seq(
          40L -> Seq(Some(Float.NaN), Some(1f), Some(2f), Some(-1f), Some(0f)),
          41L -> Seq(Some(1f), None, Some(2f), Some(-1f), Some(0f)), // null elem
          42L -> Seq(Some(1f), Some(2f))) // dim mismatch
    val df = vecs.toDF("vec_id", "embedding")
    val viaKernel = df.select(col("vec_id"),
      graft.functions.ArrayKernels.hyperplaneBuckets(col("embedding"), planes).as("bs"))
      .as[(Long, Seq[Option[Int]])].collect().toMap
    val viaLiteral = df.select(col("vec_id") +:
        planes.zipWithIndex.map { case (ps, t) =>
          Similarity.hyperplaneBucket(col("embedding"), ps).as(s"b$t")
        }: _*)
      .as[(Long, Option[Int], Option[Int], Option[Int])].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4)).toMap
    vecs.foreach { case (id, _) =>
      assert(viaKernel(id) === viaLiteral(id), s"vec $id")
    }
    assert(viaKernel(41L) === Seq(None, None, None)) // null element -> all null
    assert(viaKernel(42L) === Seq(None, None, None)) // dim mismatch -> all null
  }

  test("dd5 finds exactly the planted pairs with NO cartesian in the physical plan") {
    val dir = java.nio.file.Files.createTempDirectory("dd5spec").toString
    val rnd = new scala.util.Random(11)
    val rows = (0L until 50L).map(i => (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val df = graft.SparkEntry.queries("dd5_embedding_near_dup")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "dd5 must not build all-pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "dd5 must not build all-pairs")
    val pairs = df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1000000L), (40L, 1000040L)),
      s"expected exactly the planted every-40th replays, got $pairs")
  }

  test("langId classifies real multilingual sentences") {
    val out = Seq(
      "the cat sat on the mat and it is a good day",
      "el perro y la casa de los vecinos que viven en un pueblo",
      "der hund und die katze das ist ein gutes tier mit uns",
      "le chien et les chats est une belle chose de la vie",
      "我 的 朋友 是 他 不 在 家 有 了"
    ).toDF("t").select(TextOps.langId(TextOps.words($"t"))).as[String].collect().toSeq
    assert(out === Seq("en", "es", "de", "fr", "zh"))
  }

  test("langId script tier: Cyrillic/Arabic/Devanagari sentences; Latin rows keep their pre-script labels") {
    val out = Seq(
      "привет как дела сегодня у тебя всё хорошо",          // Russian
      "мачка седи на прозору и гледа улицу",                // Serbian (Cyrillic → ru tier)
      "مرحبا كيف حالك اليوم هل كل شيء بخير",                // Arabic
      "नमस्ते आप कैसे हैं आज का दिन अच्छा है",                    // Hindi
      // mixed: a couple of English words must not outvote the script
      "привет world как дела the сегодня",
      // control group: the stopword tier must be untouched
      "the cat sat on the mat and it is a good day",
      "el perro y la casa de los vecinos que viven en un pueblo"
    ).toDF("t").select(TextOps.langId(TextOps.words($"t"))).as[String].collect().toSeq
    assert(out === Seq("ru", "ru", "ar", "hi", "ru", "en", "es"))
  }

  test("fingerprint is order-sensitive (reordered words differ) and deterministic") {
    val out = Seq("a b c", "c b a", "a b c").toDF("t")
      .select(TextOps.fingerprint($"t")).as[Long].collect()
    assert(out(0) === out(2))
    assert(out(0) !== out(1))
  }

  test("multimodal chunking: payload round-trip, chunk sizes, stride sample, stub meta schema") {
    val df = Seq(("x" * 40)).toDF("t")
      .withColumn("p", Multimodal.payload($"t"))
      .withColumn("chunks", Multimodal.chunks($"p", 16))
      .withColumn("sampled", Multimodal.sampleEvery($"chunks", 2))
      .withColumn("meta", Multimodal.fakeDecodeMeta($"p"))
    val r = df.select($"chunks", $"sampled", $"meta.n_bytes", $"meta.format").collect()(0)
    val chunks = r.getSeq[Array[Byte]](0)
    assert(chunks.map(_.length).toSeq === Seq(16, 16, 8))
    assert(r.getSeq[Array[Byte]](1).length === 2) // indexes 0 and 2
    assert(r.getInt(2) === 40)
    assert(Seq("png", "jpeg", "webp").contains(r.getString(3)))
  }

  test("both component algorithms match a JVM union-find oracle on a seeded " +
      "random graph (property)") {
    // independent reference implementation: path-compressed union-find —
    // catches any systematic error the two Spark variants might share
    val rnd = new scala.util.Random(20260813)
    val n = 60
    val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val parent = scala.collection.mutable.ArrayBuffer.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = verts.map(v => v -> {
      val root = find(v.toInt)
      // min-id label of v's component, restricted to vertices in the graph
      verts.filter(u => find(u.toInt) == root).min
    }).toMap
    val pairs = edges.toDF("doc_a", "doc_b")
    val viaHashMin = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val viaStar = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(viaHashMin === want)
    assert(viaStar === want)
  }

  test("packBins covers the token stream with disjoint contiguous doc spans " +
      "on random inputs (property)") {
    // concat-and-chunk has no per-bin sum bound (docs straddle bins by
    // design); the structural invariant is the stream layout itself:
    // within each stratum, [start_tok, start_tok + n_tokens) tile
    // [0, total) with no gaps and no overlaps — i.e. the windowed
    // running sum really is a serialization of the stratum
    val rnd = new scala.util.Random(777)
    val docs = (1L to 150L)
      .map(i => (s"s${rnd.nextInt(3)}", i, rnd.nextInt(900).toLong))
    val got = Packing.packBins(
        docs.toDF("lang", "doc_id", "n_tokens"), "lang", "doc_id", "n_tokens", 512)
      .select("lang", "start_tok", "n_tokens")
      .as[(String, Long, Long)].collect()
    got.groupBy(_._1).foreach { case (lang, rows) =>
      val spans = rows.map(r => (r._2, r._2 + r._3)).sortBy(_._1)
      val total = rows.map(_._3).sum
      // zero-token docs sit AT an offset inside another doc's span —
      // exclude them from the tiling check (they occupy no tokens)
      val occupied = spans.filter(s => s._2 > s._1)
      occupied.sliding(2).foreach {
        case Array((_, e1), (s2, _)) =>
          assert(e1 === s2, s"$lang: gap or overlap at $e1 vs $s2")
        case _ => ()
      }
      assert(occupied.headOption.forall(_._1 === 0L), s"$lang must start at 0")
      assert(occupied.lastOption.forall(_._2 === total), s"$lang must end at total")
    }
  }

  test("redactPii: emails/URLs/phones become typed placeholders; clean text untouched") {
    val out = Seq(
      "mail a.b-c_d@ex-ample.co.uk now",
      "go to https://x.y/z?a=1&b=2 then stop",
      "call 02-1234-567 or 886-123-4567 today",
      "nothing sensitive here at all",
      "multi x@y.io and u@v.org plus http://p.q/r"
    ).toDF("t").select(TextOps.redactPii($"t")).as[String].collect()
    assert(out(0) === "mail <EMAIL> now")
    assert(out(1) === "go to <URL> then stop")
    assert(out(2) === "call <PHONE> or <PHONE> today")
    assert(out(3) === "nothing sensitive here at all")
    assert(out(4) === "multi <EMAIL> and <EMAIL> plus <URL>")
    val counts = Seq("a@b.io c@d.io https://e.f 02-1111-222")
      .toDF("t").select(
        TextOps.piiCount($"t", TextOps.EmailRe),
        TextOps.piiCount($"t", TextOps.UrlRe),
        TextOps.piiCount($"t", TextOps.PhoneRe)).as[(Int, Int, Int)].head()
    assert(counts === ((2, 1, 1)))
  }

  test("contamination: flags docs overlapping the benchmark by ≥1 n-gram, counts distinct grams, misses clean docs") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight")).toDF("id", "text")
    val docs = Seq(
      // contains the benchmark's first 8-gram verbatim (plus more words)
      (1L, "prefix words the quick brown fox jumps over the lazy dog and then some"),
      // shares vocabulary but no 8-gram run
      (2L, "the quick brown cat naps while the lazy dog jumps around all day"),
      // entirely disjoint
      (3L, "completely different content with no overlap whatsoever in any span here at all")
    ).toDF("id", "text")
    val out = Dedup.contamination(docs, "id", "text", bench, "text", n = 8)
      .as[(Long, Long)].collect().toMap
    assert(out.contains(1L) && out(1L) >= 1L, out.toString)
    assert(!out.contains(2L) && !out.contains(3L), out.toString)
    // a doc repeating the same contaminated gram twice still counts it once
    val rep = Seq((9L, "the quick brown fox jumps over the lazy dog tonight and " +
      "the quick brown fox jumps over the lazy dog tonight")).toDF("id", "text")
    val repOut = Dedup.contamination(rep, "id", "text", bench, "text", n = 8)
      .as[(Long, Long)].collect().toMap
    // every 8-gram of the benchmark sentence appears in the repeat doc;
    // distinct-counting caps n_shared at the benchmark's own gram count
    assert(repOut(9L) >= 3L && repOut(9L) <= 20L, repOut.toString)
  }

  test("chunkWithOverlap: exact boundaries, overlap retained, short docs " +
    "one chunk, ragged final chunk, full coverage (property)") {
    val words = (1 to 25).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, "a b c")).toDF("id", "text")
    val out = Packing.chunkWithOverlap(docs, "id", "text", chunkTokens = 10, overlap = 4)
      .as[(Long, Int, Int, String)].collect()
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // stride 6: starts 0,6,12,18 -> k = ceil((25-10)/6)+1 = 4
    assert(d1.map(_._2).toSeq === Seq(0, 1, 2, 3))
    assert(d1(0)._4 === words.slice(0, 10).mkString(" "))
    assert(d1(1)._4 === words.slice(6, 16).mkString(" "))
    // overlap: chunk 1 repeats chunk 0's last 4 tokens
    assert(d1(0)._4.split(" ").takeRight(4).toSeq === d1(1)._4.split(" ").take(4).toSeq)
    // ragged final chunk: [18, 25) = 7 tokens
    assert(d1(3)._3 === 7 && d1(3)._4 === words.slice(18, 25).mkString(" "))
    // every token position is covered by at least one chunk
    val covered = d1.flatMap(c => c._4.split(" ")).toSet
    assert(covered === words.toSet)
    // short doc: exactly one whole-document chunk
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, 3, "a b c")))
    // random-length property: coverage + chunk sizes for n in 1..40
    val rnd = new scala.util.Random(5)
    val many = (10L until 40L).map(id =>
      (id, (1 to (1 + rnd.nextInt(40))).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    val chunks = Packing.chunkWithOverlap(many, "id", "text", 10, 4)
      .as[(Long, Int, Int, String)].collect().groupBy(_._1)
    for ((_, cs) <- chunks; c <- cs) assert(c._3 >= 1 && c._3 <= 10)
    chunks.foreach { case (id, cs) =>
      val n = cs.maxBy(_._2)._2 * 6 + cs.maxBy(_._2)._3
      assert(cs.flatMap(_._4.split(" ")).distinct.length === n, s"doc $id coverage")
    }
  }

  test("incrementalNearDups: new batch checked against the persisted " +
    "signature table (existing + self), clean docs silent") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content about database engines and queries here")
    ).toDF("id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // copy of 1
      (11L, "the quick brown fox jumps over the lazy dog today"), // copy of 1 AND of 10
      (12L, "entirely novel text with no overlap to anything else at all")
    ).toDF("id", "text")
    val ex = Dedup.signDocs(existing, "id", "text", 9, 3, 3)
    val nw = Dedup.signDocs(batch, "id", "text", 9, 3, 3)
    val out = Dedup.incrementalNearDups(ex, "id", nw, "id", simThreshold = 0.5)
      .as[(Long, Long, String, Double)].collect().toSet
    // both copies match existing doc 1 with full signature agreement
    assert(out.contains((10L, 1L, "existing", 1.0)), out.toString)
    assert(out.contains((11L, 1L, "existing", 1.0)), out.toString)
    // and each other within the batch
    assert(out.contains((10L, 11L, "new", 1.0)), out.toString)
    // the novel doc matches nothing on either side
    assert(!out.exists(r => r._1 == 12L || r._2 == 12L), out.toString)
    // nothing matches the unrelated existing doc
    assert(!out.exists(_._2 == 2L), out.toString)
    // sub-shingle (<3-word) docs are EXCLUDED from signing entirely:
    // two unrelated two-word docs must not band together on the
    // degenerate empty-shingle signature and report sig_sim 1.0
    val shorts = Seq((20L, "hi there"), (21L, "ok bye")).toDF("id", "text")
    val shortSigned = Dedup.signDocs(shorts, "id", "text", 9, 3, 3)
    assert(shortSigned.count() === 0L)
    val out2 = Dedup.incrementalNearDups(ex, "id",
      shortSigned, "id", simThreshold = 0.5)
    assert(out2.count() === 0L)
  }

  test("sigSimilarity estimates Jaccard from signature agreement: " +
    "identical -> 1, disjoint -> 0, half-overlap in between") {
    val rows = Seq(
      (Seq("a", "b", "c", "d"), Seq("a", "b", "c", "d")),
      (Seq("a", "b", "c", "d"), Seq("w", "x", "y", "z")),
      (Seq("a", "b", "c", "d"), Seq("a", "b", "y", "z"))
    ).toDF("sa", "sb")
    val sims = rows.select(Dedup.sigSimilarity($"sa", $"sb")).as[Double].collect()
    assert(sims.toSeq === Seq(1.0, 0.0, 0.5))
  }

  test("semanticDups: within-cell duplicates flagged to the MIN lower id, " +
    "orthogonal mates and cross-cell copies untouched") {
    val rows = Seq(
      // cell 0: ids 1,2,3 identical (a dup triple), id 4 orthogonal
      (1L, Seq(1f, 0f, 0f), 0),
      (2L, Seq(1f, 0f, 0f), 0),
      (3L, Seq(1f, 0f, 0f), 0),
      (4L, Seq(0f, 1f, 0f), 0),
      // cell 1: the SAME vector as cell 0's triple — never compared
      (5L, Seq(1f, 0f, 0f), 1)
    ).toDF("id", "vec", "cell")
    val out = Dedup.semanticDups(rows, "id", "vec", "cell", tau = 0.9)
      .as[(Long, Int, Option[Double], Boolean, Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(out.size === 5)
    assert(out(1L)._4 === false && out(1L)._3.isEmpty && out(1L)._5.isEmpty)
    // both copies point at the component minimum, not a chain
    assert(out(2L)._4 === true && out(2L)._5 === Some(1L))
    assert(out(3L)._4 === true && out(3L)._5 === Some(1L))
    assert(math.abs(out(2L)._3.get - 1.0) < 1e-12)
    // orthogonal: max similarity to lower mates is 0, below tau
    assert(out(4L)._4 === false && math.abs(out(4L)._3.get) < 1e-12)
    // different cell: no comparison happens at all
    assert(out(5L)._4 === false && out(5L)._3.isEmpty)
  }

  test("lineDedup: corpus-common lines removed in order-preserving reassembly; " +
    "within-doc repeats don't count toward the doc threshold") {
    val docs = Seq(
      (1L, "unique one\nboilerplate\nunique two"),
      (2L, "another\nboilerplate"),
      (3L, "boilerplate"),
      (4L, "boilerplate\nboilerplate\nsolo"),
      (5L, "dup\ndup\nx")
    ).toDF("id", "text")
    val out = Dedup.lineDedup(docs, "id", "text", minDocs = 3)
      .as[(Long, Long, Long, Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(out.size === 5)
    // 'boilerplate' is in 4 distinct docs >= 3 -> removed everywhere
    assert(out(1L) === ((1L, 3L, 1L, Some("unique one\nunique two"))))
    assert(out(2L) === ((2L, 2L, 1L, Some("another"))))
    // the all-boilerplate document empties to NULL
    assert(out(3L) === ((3L, 1L, 1L, None)))
    // BOTH copies removed from d4, but they counted as one distinct doc
    assert(out(4L) === ((4L, 3L, 2L, Some("solo"))))
    // 'dup' repeats only within ONE doc -> 1 distinct doc < 3 -> kept
    assert(out(5L) === ((5L, 3L, 0L, Some("dup\ndup\nx"))))
  }

  test("lineDedup matches a plain-Scala reference on seeded random corpora " +
    "(property: counts, removals, and reassembled text)") {
    val rnd = new scala.util.Random(41)
    val lines = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (0L until 40L).map { id =>
      val n = 1 + rnd.nextInt(5)
      (id, (0 until n).map(_ => lines(rnd.nextInt(lines.length))).mkString("\n"))
    }
    val minDocs = 6
    // reference: count distinct docs per line, filter, reassemble
    val docCount = docs.flatMap { case (id, t) => t.split("\n", -1).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val expected = docs.map { case (id, t) =>
      val ls = t.split("\n", -1)
      val kept = ls.filter(l => docCount(l) < minDocs)
      id -> ((id, ls.length.toLong, (ls.length - kept.length).toLong,
        if (kept.isEmpty) None else Some(kept.mkString("\n"))))
    }.toMap
    val out = Dedup.lineDedup(docs.toDF("id", "text"), "id", "text", minDocs)
      .as[(Long, Long, Long, Option[String])].collect().map(r => r._1 -> r).toMap
    assert(out.size === docs.size)
    docs.foreach { case (id, _) => assert(out(id) === expected(id), s"doc $id") }
  }

  test("duplicateSpans: cross-doc and WITHIN-doc repeated spans covered, " +
    "partial overlap extends coverage, all-duplicated doc -> NULL text") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // 10-token span
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"epsilon $shared zeta"),
      (3L, shared),                        // nothing survives -> NULL
      (4L, "unique words only here today"),
      // within-ONE-doc repetition: the 8-gram repeats inside doc 5
      (5L, s"$shared and then $shared"),
      (6L, "short doc")                    // < k tokens, untouched
    ).toDF("id", "text")
    val out = Dedup.duplicateSpans(docs, "id", "text", k = 8)
      .as[(Long, Long, Long, Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 14L, 10L, Some("alpha beta gamma delta"))))
    assert(out(2L) === ((2L, 12L, 10L, Some("epsilon zeta"))))
    assert(out(3L) === ((3L, 10L, 10L, None)))
    assert(out(4L) === ((4L, 5L, 0L, Some("unique words only here today"))))
    // within-doc: both copies of the 10-token span are removed, but the
    // bridge 'and then' is NOT duplicated anywhere (the 8-grams crossing
    // it occur once) and survives — exactly ExactSubstr's semantics
    assert(out(5L) === ((5L, 22L, 20L, Some("and then"))))
    assert(out(6L) === ((6L, 2L, 0L, Some("short doc"))))
  }

  test("duplicateSpansIncremental: batch cleaned vs table + self ≡ the " +
    "batch rows of duplicateSpans over (corpus ∪ batch); a two-batch " +
    "chain through advanceGramCounts catches a cross-batch dup the " +
    "un-advanced table cannot (r8 verdict ask #4)") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, "unique words only here today"),
      (3L, "old content nothing shares this span at all")).toDF("id", "text")
    // batch 1: a corpus-replayed span (dup via the TABLE), a within-batch
    // self-dup (dup via SELF counts), and novel text
    val novel1 = (1 to 10).map(i => s"n$i").mkString(" ")
    val b1 = Seq(
      (101L, s"intro $shared outro"),
      (102L, s"$novel1 and also $novel1"),
      (103L, s"fresh $novel1 tail"),
      (104L, "completely new material never seen anywhere at all")).toDF("id", "text")
    val k = 8
    def rows2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0).toString, r.getLong(1))).sortBy(_._1).toSeq
    val table0 = Dedup.gramCounts(corpus, "id", "text", k)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    val incr1 = rows(Dedup.duplicateSpansIncremental(
      table0, b1, "id", "text", k))
    // executable spec: batch semantics over the union, batch rows only
    val ref1 = rows(Dedup.duplicateSpans(
      corpus.unionByName(b1), "id", "text", k)
      .filter(col("id") >= 100L))
    assert(incr1 === ref1)
    // batch 2 replays batch 1's NOVEL span: duplicated only against
    // the ADVANCED table — the un-advanced table must keep it
    val b2 = Seq((201L, s"second day $novel1 closing words")).toDF("id", "text")
    val table1 = Dedup.advanceGramCounts(table0, b1, "id", "text", k)
    val incr2 = rows(Dedup.duplicateSpansIncremental(
      table1, b2, "id", "text", k))
    val ref2 = rows(Dedup.duplicateSpans(
      corpus.unionByName(b1).unionByName(b2), "id", "text", k)
      .filter(col("id") >= 200L))
    assert(incr2 === ref2, "advanced table")
    assert(incr2.head._3 === 10L, s"the $novel1 span must be covered: $incr2")
    val stale = rows(Dedup.duplicateSpansIncremental(
      table0, b2, "id", "text", k))
    assert(stale.head._3 === 0L,
      "without the advance the cross-batch span must survive — " +
        "otherwise the chain isn't actually reading the table")
    // the advanced table is a straight recount of the union
    val recount = Dedup.gramCounts(
      corpus.unionByName(b1), "id", "text", k)
    assert(rows2(table1) === rows2(recount))
  }

  test("keepFirstSpanDedup: the FIRST occurrence of a duplicated " +
    "3-sentence span survives, every later copy is removed (C4 §2.2 " +
    "'all but one'); within-page repeats and sentence extraction pinned") {
    val block = "one common. two common. three common."
    val pages = Seq(
      (1L, s"page one opens here. $block page one closes here."),
      (2L, s"page two opens here. $block page two closes here."),
      (3L, "page three stands alone. nothing is shared. all kept here."),
      // within-ONE-page repetition: the later copy is removed
      (4L, s"$block middle interlude. $block")).toDF("id", "text")
    val out = Dedup.keepFirstSpanDedup(pages, "id", "text", k = 3)
      .as[(Long, Long, Long, Option[String])].collect()
      .map(r => r._1 -> r).toMap
    // page 1 is globally first: everything survives
    assert(out(1L) === ((1L, 5L, 0L,
      Some("page one opens here. one common. two common. three common. " +
        "page one closes here."))))
    // page 2's copy is removed, its own sentences survive
    assert(out(2L) === ((2L, 5L, 3L,
      Some("page two opens here. page two closes here."))))
    assert(out(3L) === ((3L, 3L, 0L,
      Some("page three stands alone. nothing is shared. all kept here."))))
    // page 4: first copy survives (it IS the 2nd global occurrence of the
    // block... page 1 holds rn 1), so BOTH copies here are removed
    assert(out(4L) === ((4L, 7L, 6L, Some("middle interlude."))))
    // sentence extraction: trimmed, newline-tolerant, empties dropped
    val sents = Seq((1L, "a b c.\n  d e f!  tail without ending"))
      .toDF("id", "t")
      .select(TextOps.sentences(col("t"))).as[Seq[String]].head()
    assert(sents === Seq("a b c.", "d e f!"))
  }

  test("lineDedup: maxBroadcastLines=0 forces the shuffle-hash fallback " +
    "with IDENTICAL output, and the plan really drops the broadcast") {
    val docs = Seq(
      (1L, "common\nunique1\ncommon2"),
      (2L, "common\nunique2\ncommon2"),
      (3L, "common\nunique3\ncommon2"),
      (4L, "solo")).toDF("id", "text")
    val viaBroadcast = Dedup.lineDedup(docs, "id", "text", minDocs = 3)
    val viaShuffle = Dedup.lineDedup(docs, "id", "text", minDocs = 3,
      maxBroadcastLines = 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(rows(viaShuffle) === rows(viaBroadcast))
    val bPlan = viaBroadcast.queryExecution.executedPlan.toString
    val sPlan = viaShuffle.queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan.take(500))
    assert(!sPlan.contains("BroadcastHashJoin") &&
      sPlan.contains("ShuffledHashJoin"), sPlan.take(500))
  }

  test("tokenBudgetMixture: greedy prefix fill in hash order, boundary doc " +
    "may overshoot, unknown groups select nothing, layout-invariant") {
    val docs = (1L to 30L).map(id =>
      (id, if (id % 3 == 0) "g2" else "g1", 10L + id % 4)).toDF("id", "g", "nt")
    val out = Sampling.tokenBudgetMixture(docs, "g", "id", col("nt"),
      Map("g1" -> 60L, "g2" -> 25L))
      .select("id", "g", "n_tokens", "cum_before", "selected")
      .as[(Long, String, Long, Long, Boolean)].collect()
    assert(out.length === 30)
    for ((_, g, _, cb, sel) <- out)
      assert(sel === (cb < (if (g == "g1") 60L else 25L)))
    // per group: selected set is a PREFIX in (md5, id) order and the
    // selected token sum overshoots the budget by at most one doc
    for ((g, budget) <- Seq("g1" -> 60L, "g2" -> 25L)) {
      val grp = out.filter(_._2 == g).sortBy(r => (md5hex(r._1), r._1))
      val sel = grp.takeWhile(_._5)
      assert(grp.drop(sel.length).forall(!_._5), s"$g selection is not a prefix")
      val tok = sel.map(_._3).sum
      assert(tok >= budget || sel.length == grp.length, s"$g underfilled: $tok")
      assert(tok - sel.lastOption.map(_._3).getOrElse(0L) < budget, s"$g overshot by >1 doc")
    }
    // a group with no budget entry selects nothing
    val out2 = Sampling.tokenBudgetMixture(docs, "g", "id", col("nt"),
      Map("g1" -> 60L)).filter(col("g") === "g2")
      .select("selected").as[Boolean].collect()
    assert(out2.nonEmpty && out2.forall(_ == false))
    // partition-layout invariance
    val out3 = Sampling.tokenBudgetMixture(docs.repartition(7), "g", "id",
      col("nt"), Map("g1" -> 60L, "g2" -> 25L))
      .select("id", "selected").as[(Long, Boolean)].collect().toMap
    assert(out.map(r => r._1 -> r._5).toMap === out3)
  }

  private def md5hex(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  test("tokenBudgetMixtureSharded: shards=1 reproduces the unsharded pick " +
    "exactly; shards>1 keeps per-shard prefix + bounded group overshoot") {
    val docs = (1L to 200L).map(id => (id, "g", 5L + id % 7)).toDF("id", "g", "nt")
    val budgets = Map("g" -> 300L)
    val plain = Sampling.tokenBudgetMixture(docs, "g", "id", col("nt"), budgets)
      .select("id", "selected").as[(Long, Boolean)].collect().toMap
    val one = Sampling.tokenBudgetMixtureSharded(docs, "g", "id", col("nt"), budgets, 1)
      .select("id", "selected").as[(Long, Boolean)].collect().toMap
    assert(one === plain)
    val four = Sampling.tokenBudgetMixtureSharded(docs, "g", "id", col("nt"), budgets, 4)
      .select("id", "shard", "n_tokens", "cum_before", "selected")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(four.map(_._2).distinct.sorted.toSeq === Seq(0L, 1L, 2L, 3L))
    // per shard: selection is a prefix in (md5, id) order
    for (s <- 0L until 4L) {
      val grp = four.filter(_._2 == s).sortBy(r => (md5hex(r._1), r._1))
      val sel = grp.takeWhile(_._5)
      assert(grp.drop(sel.length).forall(!_._5), s"shard $s not a prefix")
    }
    // group total lands within `shards` boundary docs of the budget
    val selTok = four.filter(_._5).map(_._3).sum
    val maxDoc = four.map(_._3).max
    assert(selTok >= 300L - 4 * maxDoc && selTok <= 300L + 4 * maxDoc, selTok.toString)
  }

  test("tokenBudgetMixture: rejects input frames already carrying an " +
    "output column (would be silently overwritten otherwise)") {
    val budgets = Map("g" -> 300L)
    for (clash <- Seq("shard", "n_tokens", "cum_before", "selected")) {
      val docs = (1L to 5L).map(id => (id, "g", 5L)).toDF("id", "g", clash)
      val e = intercept[IllegalArgumentException] {
        Sampling.tokenBudgetMixture(docs, "g", "id", lit(5L), budgets)
      }
      assert(e.getMessage.contains(clash))
    }
  }

  test("Importance: DSIR weights separate target-vocabulary docs from raw, " +
    "bucket table stays bounded, hash buckets in range") {
    val docs = Seq(
      (1L, "apple banana cherry apple banana", true),
      (2L, "banana cherry apple cherry", true),
      (3L, "dog cat mouse dog cat mouse", false),
      (4L, "cat mouse dog cat", false),
      // mixed doc, raw side: scores between the two poles
      (5L, "apple dog banana cat", false)
    ).toDF("id", "text", "is_t")
    val B = 64
    val ratios = Importance.bucketLogRatios(docs, "text", $"is_t", B)
    val rtab = ratios.as[(Long, Double)].collect()
    assert(rtab.length <= 6, s"at most one bucket per distinct word: ${rtab.length}")
    assert(rtab.forall { case (b, r) => b >= 0 && b < B && r.isFinite })
    val w = Importance.docLogWeights(docs, "id", "text", ratios, B)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(w(1L)._2 === 5L && w(3L)._2 === 6L)
    // target-vocab docs score strictly positive, raw strictly negative,
    // the mixed doc strictly between
    assert(w(1L)._3 > 0 && w(2L)._3 > 0, w.toString)
    assert(w(3L)._3 < 0 && w(4L)._3 < 0, w.toString)
    assert(w(5L)._3 > w(3L)._3 && w(5L)._3 < w(1L)._3, w.toString)
    // determinism: same inputs, same table, same weights
    val w2 = Importance.docLogWeights(docs, "id", "text", ratios, B)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(w === w2)
  }

  test("Repetition metrics (tx21): dup unit stats, top-gram chars, dup-gram coverage on crafted fixtures") {
    // dup unit stats: 4 lines, one appears twice
    val lines = Seq((1L, "aaaa"), (1L, "bb"), (1L, "aaaa"), (1L, "c"),
      (2L, "x"), (2L, "y")).toDF("id", "__u")
    val st = Repetition.dupUnitStats(lines, "id", "__u", "dup_line")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(st(1L)._1 === 0.25) // 1 excess occurrence of 4
    assert(st(1L)._2 === 4.0 / 11.0) // 4 excess chars of 4+4+2+1
    assert(st(2L) === ((0.0, 0.0)))

    // multi-kind variant ≡ the FULL-OUTER join of the per-kind frames:
    // doc 3 has lines but NO paras — the per-kind para frame emits no
    // row for it (an inner join would drop the doc), while the tagged
    // pass keeps the doc with NULL para columns
    val tagged = Seq((1L, "line", "aaaa"), (1L, "line", "bb"),
      (1L, "line", "aaaa"), (1L, "line", "c"),
      (1L, "para", "pp"), (1L, "para", "pp"),
      (2L, "line", "x"), (2L, "line", "y"), (2L, "para", "q"),
      (3L, "line", "solo"))
      .toDF("id", "__t", "__u")
    val mu = Repetition.dupUnitStatsMulti(tagged, "id", "__t", "__u",
        Seq("line", "para"))
      .as[(Long, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(mu(1L) === ((Some(0.25), Some(4.0 / 11.0), Some(0.5), Some(0.5))))
    assert(mu(2L) === ((Some(0.0), Some(0.0), Some(0.0), Some(0.0))))
    assert(mu(3L) === ((Some(0.0), Some(0.0), None, None)))
    val perLine = Repetition.dupUnitStats(
        tagged.filter($"__t" === "line").select($"id", $"__u"),
        "id", "__u", "dup_line")
      .as[(Long, Double, Double)].collect().map(_._1).toSet
    val perPara = Repetition.dupUnitStats(
        tagged.filter($"__t" === "para").select($"id", $"__u"),
        "id", "__u", "dup_para")
      .as[(Long, Double, Double)].collect().map(_._1).toSet
    assert(perLine === Set(1L, 2L, 3L) && perPara === Set(1L, 2L),
      "per-kind frames disagree on doc coverage — only a full-outer join matches the tagged pass")

    // top-gram chars: "a b" occurs twice (6 chars incl. space at n=2);
    // tie on count prefers the LONGER gram
    val docs = Seq((1L, "a b c a b"), (2L, "xx yy zz")).toDF("id", "t")
    val ws = TextOps.words($"t")
    val top2 = Repetition.topGramChars(docs, "id", ws, 2)
      .as[(Long, Long)].collect().toMap
    assert(top2(1L) === 2 * "a b".length)
    assert(top2(2L) === 1 * "xx yy".length) // all count 1 → longest wins
    // doc shorter than n emits no row
    val top5 = Repetition.topGramChars(docs, "id", ws, 5)
      .as[(Long, Long)].collect().toMap
    assert(top5.contains(1L) && !top5.contains(2L))

    // multi-n variant ≡ joining the per-n frames (nulls where short)
    val multi = Repetition.topGramCharsMulti(docs, "id", ws, Seq(2, 5))
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(multi(1L) === ((Some(top2(1L)), Some(top5(1L)))))
    assert(multi(2L) === ((Some(top2(2L)), None)))

    // coverage: "a b" duplicated within doc 1 covers positions
    // {0,1} and {3,4} → all 1-char words except "c" → 4 of 5 chars
    val cov = Repetition.dupGramCharFrac(docs, "id", ws, 2, "f")
      .as[(Long, Double)].collect().toMap
    assert(cov(1L) === 4.0 / 5.0)
    assert(cov(2L) === 0.0)
    // within-doc only: the same gram in DIFFERENT docs is not a dup
    val cross = Seq((1L, "p q r"), (2L, "p q s")).toDF("id", "t")
    val covCross = Repetition.dupGramCharFrac(cross, "id", TextOps.words($"t"), 2, "f")
      .as[(Long, Double)].collect().toMap
    assert(covCross(1L) === 0.0 && covCross(2L) === 0.0)
  }

  test("dupGramCharFracMulti ≡ per-n dupGramCharFrac on seeded repetitive corpora (frame-free window property)") {
    val rnd = new scala.util.Random(37)
    val vocab = Seq("a", "bb", "ccc", "dd", "e")
    // documents built from repeated phrases so every n in 2..6 has real
    // within-doc duplicate grams, plus short docs (< n words) for edges
    val docs = (1L to 40L).map { i =>
      val phrase = Seq.fill(2 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size)))
      val words = Seq.fill(1 + rnd.nextInt(3))(phrase).flatten ++
        Seq.fill(rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
      (i, words.mkString(" "))
    }.toDF("id", "t")
    val ws = TextOps.words($"t")
    val ns = Seq(2, 3, 5, 6)
    val multi = Repetition.dupGramCharFracMulti(docs, "id", ws, ns)
      .collect().map(r => r.getLong(0) -> ns.indices.map(j => r.getDouble(j + 1))).toMap
    for ((n, j) <- ns.zipWithIndex) {
      val single = Repetition.dupGramCharFrac(docs, "id", ws, n, "f")
        .as[(Long, Double)].collect().toMap
      single.foreach { case (id, v) =>
        assert(multi(id)(j) === v, s"id=$id n=$n")
      }
    }
  }

  test("pqEncode/ivfPqTopK: wrong-dimension vectors drop out instead of taking the lowest-cid codeword") {
    // doc 2 is 3-dim in a 4-dim corpus: its second subvector is short,
    // sqDist is null, and without the guards it would (a) encode to
    // cid 0 (nulls sort first in the argmin window) and (b) later sum
    // to a null ADC distance that ranks FIRST in top-k
    val emb = Seq((1L, 0, Seq(1f, 2f, 3f, 4f)), (2L, 0, Seq(1f, 2f, 3f)))
      .toDF("vec_id", "cell", "embedding")
    val cb = Seq((0, 0, Seq(0.0, 0.0)), (0, 1, Seq(5.0, 5.0)),
      (1, 0, Seq(0.0, 0.0)), (1, 1, Seq(5.0, 5.0)))
      .toDF("pq_m", "pq_cid", "pq_vec")
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, 2, 2,
      carry = Seq("cell"))
    val byId = codes.as[(Long, Int, Int, Int)].collect().groupBy(_._1)
    assert(byId(1L).length === 2)          // full codes for the valid vector
    assert(byId(2L).length === 1)          // only the valid subvector survives
    // the partially-coded candidate never reaches top-k (null ADC sum)
    val centroids = Seq((0, Seq(0.0, 0.0, 0.0, 0.0))).toDF("cell", "cent_vec")
    val queries = Seq((9L, 0, Seq(1f, 2f, 3f, 4f)))
      .toDF("q_id", "q_cell", "q_vec").drop("q_cell")
    val top = Similarity.ivfPqTopK(codes, "vec_id", "cell", cb,
      centroids, "cent_vec", queries, "q_id", "q_vec", 2, 2, 1, 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top === Set(1L))
  }

  test("ivfTopK: a wrong-dimension query drops out of the serve instead of " +
    "probing arbitrary cells (the shared-probeCells null guard — r16 ADVICE)") {
    // folding ivfTopK onto the shared probeCells added cell_dist's
    // isNotNull drop that ss2's serve previously lacked; this pins the
    // now-uniform family behavior (ss2 = ss5 = ss8): a malformed query
    // yields ZERO rows, not rows from nulls-first arbitrary cells. The
    // registered ss2 fixture has no malformed vectors, so its oracle is
    // unaffected at every SF — the contract is pinned here instead.
    val corpus = Seq((1L, 0, Seq(1f, 0f)), (2L, 0, Seq(0f, 1f)),
      (3L, 1, Seq(1f, 1f))).toDF("vec_id", "cell", "embedding")
    val centroids = Seq((0, Seq(0.9, 0.1)), (1, Seq(0.5, 0.5)))
      .toDF("cell", "cent_vec")
    val queries = Seq((9L, Seq(1f, 0f)), (10L, Seq(1f)))  // 10 is short
      .toDF("q_id", "q_vec")
    val served = Similarity.ivfTopK(corpus, "vec_id", "embedding", "cell",
        centroids, "cent_vec", queries, "q_id", "q_vec", nProbe = 1, k = 2)
      .select("query_id").as[Long].collect().toSet
    assert(served === Set(9L), s"malformed query must serve nothing: $served")
  }

  test("Gopher quality rules (tx20): each metric fires on a crafted page, both directions") {
    def metrics(page: String): (Double, Double, Double, Double, Double, Int) = {
      val df = Seq(page).toDF("page")
        .withColumn("ws", TextOps.words($"page"))
        .select(
          TextOps.hashWordRatio($"page", $"ws").as("hash"),
          TextOps.ellipsisWordRatio($"page", $"ws").as("elw"),
          TextOps.bulletLineFrac($"page").as("bul"),
          TextOps.ellipsisLineFrac($"page").as("ell"),
          TextOps.alphaWordFrac($"ws").as("alpha"),
          TextOps.gopherStopHits($"ws").as("stops"))
      df.as[(Double, Double, Double, Double, Double, Int)].head()
    }
    // clean page: no symbols, no bullets/ellipses, all-alpha, rich stops
    val clean = metrics("the cat sat on top of the mat\nand that would have to do")
    assert(clean._1 === 0.0 && clean._2 === 0.0 && clean._3 === 0.0 &&
      clean._4 === 0.0)
    assert(clean._5 === 1.0)
    assert(clean._6 >= 5) // the, of, and, that, have, to, with?
    // the two §A1.1 ratios are SEPARATE: 3 '#' and one '...' over 4
    // words give hash 0.75 and ellipsis 0.25, not a combined 1.0
    val sym = metrics("#a #b #c word...")
    assert(sym._1 === 0.75 && sym._2 === 0.25)
    // a page with many '#' but no '...' leaves the ellipsis ratio at 0
    // (the combined form would have conflated the two rules)
    val hashOnly = metrics("#a #b #c word")
    assert(hashOnly._1 === 0.75 && hashOnly._2 === 0.0)
    // '....' counts as ONE ellipsis occurrence (non-overlapping on both engines)
    val fourDots = metrics("one two three four....")
    assert(fourDots._1 === 0.0 && fourDots._2 === 0.25)
    // bullets: '•' and '- ' prefixes count, '-x' (no space) does not
    val bul = metrics("• one\n- two\n-three\nfour")
    assert(bul._3 === 0.5)
    // ellipsis-terminated lines
    val ell = metrics("done...\nnot done\nalso...\nmore")
    assert(ell._4 === 0.5)
    // numeric words drag the alphabetic fraction down
    val alpha = metrics("a1 22 333 b2")
    assert(alpha._5 === 0.5)
    // stop hits are DISTINCT stops, not occurrences
    val stops = metrics("the the the the")
    assert(stops._6 === 1)
  }

  test("ivfInt8RefineTopK (ss8): probes match ss2's cell selection, recall@3 vs " +
    "exact-within-cells >= 0.9, returned scores ARE exact cosines") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    // 4 well-separated direction clusters + per-row gaussian jitter, so
    // cells are meaningful and within-cell neighbors are tight but
    // distinct — the regime where a too-shallow shortlist WOULD lose
    // recall if the quantized coarse ranking were broken
    val centers = (0 until 4).map(c => Seq.fill(dim)(rnd.nextGaussian() * 3))
    val rows = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      (i, c.toLong, centers(c).map(x => (x + rnd.nextGaussian() * 0.4).toFloat))
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val centroids = emb
      .select(col("label").as("cell"), col("embedding"))
      .groupBy("cell")
      .agg(array((0 until dim).map(i =>
        avg(element_at(col("embedding"), i + 1))): _*).as("cent_vec"))
    val cellCorpus = Similarity.assignCells(emb, "vec_id", "embedding",
      centroids, "cell", "cent_vec")
    val queries = emb.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exactIvfDf = Similarity.ivfTopK(cellCorpus, "vec_id", "embedding",
      "cell", centroids, "cent_vec", queries, "q_id", "q_vec", nProbe = 2, k = 3)
    val exactIvf = topSets(exactIvfDf)
    val composedDf = Similarity.ivfInt8RefineTopK(cellCorpus, "vec_id",
      "embedding", "cell", centroids, "cent_vec",
      queries, "q_id", "q_vec", nProbe = 2, shortlist = 12, k = 3)
    val composed = topSets(composedDf)
    // same probe rule => every composed neighbor must be reachable by
    // the exact IVF at the same nProbe with a full-depth shortlist;
    // recall@3 vs the exact-within-cells ranking
    val rs = exactIvf.map { case (qid, truth) =>
      composed.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val recall = rs.sum / rs.size
    assert(recall >= 0.9, s"ss8 recall@3 vs exact-within-cells $recall < 0.9")
    // refine exactness: scores are the true float cosines, bit-for-bit
    val exactScores = exactIvfDf
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val mismatches = composedDf
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, c) => exactScores.get((a, b)).exists(_ != c) }
    assert(mismatches.isEmpty,
      s"ss8 refined scores diverge from exact cosine: ${mismatches.take(3).toSeq}")
  }
}
