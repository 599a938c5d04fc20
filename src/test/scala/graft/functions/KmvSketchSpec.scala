package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Sketches

class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  private def refSketch(hs: Seq[Long], k: Int): Seq[Long] =
    hs.distinct.sorted.take(k)

  test("kmvSketch ≡ sorted-distinct-take-k reference across partitionings (merge path exercised)") {
    val rnd = new scala.util.Random(11)
    // duplicates on purpose: distinctness inside the sketch is load-bearing
    val vals = Seq.fill(500)(rnd.nextLong(1L << 60)) ++
      Seq.fill(200)(rnd.nextLong(40) + 7)
    for (k <- Seq(2, 16, 64); parts <- Seq(1, 7)) {
      val got = vals.toDF("h").repartition(parts)
        .agg(Sketches.kmvSketch(col("h"), k).as("sk"))
        .as[Seq[Long]].head()
      assert(got === refSketch(vals, k), s"k=$k parts=$parts")
    }
  }

  test("kmvSketch below saturation returns the whole distinct set; nulls ignored; empty input → empty array") {
    val got = Seq[java.lang.Long](9L, 3L, null, 3L, 1L).toDF("h")
      .agg(Sketches.kmvSketch(col("h"), 64)).as[Seq[Long]].head()
    assert(got === Seq(1L, 3L, 9L))
    val empty = Seq.empty[Long].toDF("h")
      .agg(Sketches.kmvSketch(col("h"), 64)).as[Seq[Long]].head()
    assert(empty === Seq.empty[Long])
  }

  test("grouped sketches: per-group k-minima, saturation displaces only strictly-larger maxima") {
    val rows = (1L to 100L).map(i => ("a", i)) ++ Seq(("b", 5L), ("b", 5L), ("b", 2L))
    val got = rows.toDF("g", "h").groupBy("g")
      .agg(Sketches.kmvSketch(col("h"), 8).as("sk"))
      .as[(String, Seq[Long])].collect().toMap
    assert(got("a") === (1L to 8L))
    assert(got("b") === Seq(2L, 5L))
  }

  test("two-level merge (sketch of shard sketches) ≡ direct sketch — the sk2 in-plan identity") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(3000)((rnd.nextInt(8), rnd.nextLong(1L << 60)))
    val df = rows.toDF("shard", "h").cache()
    try {
      val k = 32
      val l1 = df.groupBy("shard").agg(Sketches.kmvSketch(col("h"), k).as("sk"))
      val merged = l1.select(explode(col("sk")).as("uh"))
        .agg(Sketches.kmvSketch(col("uh"), k)).as[Seq[Long]].head()
      val direct = df.agg(Sketches.kmvSketch(col("h"), k)).as[Seq[Long]].head()
      assert(merged === direct)
      assert(direct === refSketch(rows.map(_._2), k))
    } finally { df.unpersist(blocking = false); () }
  }

  test("kmvEstimate: exact below saturation, within ~4/sqrt(k) relative error at 100x saturation") {
    val k = 64
    // below saturation: estimate IS the distinct size
    val small = (1L to 20L).map(h => h * (1L << 40)).toDF("h")
      .agg(Sketches.kmvEstimate(Sketches.kmvSketch(col("h"), k), k))
      .as[Double].head()
    assert(small === 20.0)
    // saturated: 6400 distinct md5-hashed values (the real hash space)
    val n = 6400
    val est = (1 to n).map(i => s"tok_$i").toDF("tok")
      .agg(Sketches.kmvEstimate(
        Sketches.kmvSketch(Sketches.hash60(col("tok")), k), k))
      .as[Double].head()
    val relErr = math.abs(est - n) / n
    assert(relErr < 4.0 / math.sqrt(k.toDouble), s"est=$est relErr=$relErr")
  }

  test("hash60 stays in [0, 2^60) and matches the documented conv recipe") {
    val hs = Seq("a", "b", "", "newline\nbearing").toDF("tok")
      .select(Sketches.hash60(col("tok"))).as[Long].collect()
    assert(hs.forall(h => h >= 0L && h < (1L << 60)))
    // independent recipe check for one value: first 15 md5 hex chars
    val exp = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest("a".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    assert(hs(0) === exp)
  }

  test("kmvUnionSketch closure: union sketch from two sketches ≡ sketch of the concatenated stream; matches are exact") {
    val k = 32
    val a = (1L to 200L).map(_ * 7)
    val b = (1L to 200L).map(_ * 10) // overlaps a at multiples of 70
    val skA = refSketch(a, k)
    val skB = refSketch(b, k)
    val row = Seq((skA, skB)).toDF("sa", "sb")
      .withColumn("mk", Sketches.kmvUnionSketch(col("sa"), col("sb"), k))
      .select(col("mk"),
        Sketches.kmvMatchCount(col("mk"), col("sa"), col("sb")).as("m"))
      .as[(Seq[Long], Int)].head()
    assert(row._1 === refSketch(a ++ b, k))
    assert(row._2 === row._1.count(h => skA.contains(h) && skB.contains(h)))
  }

  test("set-op estimates: Jaccard / union / intersection from sketches within ~4/sqrt(k) on md5-hashed sets with 1/3 overlap") {
    val k = 64
    // 2000 shared + 2000 each side only → Jaccard = 2000/6000 = 1/3
    val shared = (1 to 2000).map(i => s"sh_$i")
    val aToks = shared ++ (1 to 2000).map(i => s"a_$i")
    val bToks = shared ++ (1 to 2000).map(i => s"b_$i")
    val df = aToks.map(t => (t, 1, 0)).union(bToks.map(t => (t, 0, 1)))
      .toDF("tok", "in_a", "in_b")
    val agg = df
      .select(Sketches.hash60(col("tok")).as("h"), col("in_a"), col("in_b"))
      .agg(
        Sketches.kmvSketch(when(col("in_a") === 1, col("h")), k).as("sa"),
        Sketches.kmvSketch(when(col("in_b") === 1, col("h")), k).as("sb"))
      .withColumn("mk", Sketches.kmvUnionSketch(col("sa"), col("sb"), k))
      .select(
        (Sketches.kmvMatchCount(col("mk"), col("sa"), col("sb")) /
          size(col("mk"))).as("jacc"),
        Sketches.kmvEstimate(col("mk"), k).as("uEst"))
      .as[(Double, Double)].head()
    val (jacc, uEst) = agg
    val tol = 4.0 / math.sqrt(k.toDouble)
    assert(math.abs(jacc - 1.0 / 3.0) < tol, s"jacc=$jacc")
    assert(math.abs(uEst - 6000.0) / 6000.0 < tol, s"uEst=$uEst")
    assert(math.abs(jacc * uEst - 2000.0) / 2000.0 < 2 * tol, s"interEst=${jacc * uEst}")
  }

  test("cmsBucket: in-range salted buckets, and the CMS never-undercount guarantee holds row-exactly") {
    val W = 64 // small width → guaranteed collisions, the interesting case
    val R = 4
    // a skewed multiset: token t_i appears i times, i = 1..40
    val rows = (1 to 40).flatMap(i => Seq.fill(i)(s"t_$i"))
    val toks = rows.toDF("tok")
    val rIdx = explode(array((0 until R).map(lit): _*)).as("r")
    val cms = toks.select(col("tok"), rIdx)
      .select(col("r"), Sketches.cmsBucket(col("r"), col("tok"), W).as("bucket"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    val est = exact.select(col("tok"), col("exact_cnt"), rIdx)
      .select(col("tok"), col("exact_cnt"), col("r"),
        Sketches.cmsBucket(col("r"), col("tok"), W).as("bucket"))
      .join(cms, Seq("r", "bucket"))
      .groupBy("tok", "exact_cnt").agg(min(col("cnt")).as("est_cnt"))
      .as[(String, Long, Long)].collect()
    assert(est.length === 40)
    est.foreach { case (t, ex, e) =>
      assert(e >= ex, s"CMS undercounted $t: est=$e exact=$ex")
    }
    // buckets in range and deterministic across layouts
    val b1 = toks.distinct().select(col("tok"),
      Sketches.cmsBucket(lit(2), col("tok"), W).as("b"))
      .as[(String, Long)].collect().toMap
    assert(b1.values.forall(b => b >= 0 && b < W))
    val b2 = toks.distinct().repartition(9).select(col("tok"),
      Sketches.cmsBucket(lit(2), col("tok"), W).as("b"))
      .as[(String, Long)].collect().toMap
    assert(b1 === b2)
  }

  test("kmv_sketch rejects non-long input with the hash-space hint") {
    // on a session that never registered an Observation: the shared
    // session's ObservationManager listener re-plans a failed query and
    // logs the analysis error's stack trace from the listener bus
    val fresh = spark.newSession()
    val e = intercept[Exception] {
      fresh.createDataFrame(Seq(Tuple1("x"))).toDF("tok")
        .agg(Sketches.kmvSketch(col("tok"), 8)).collect()
    }
    assert(e.getMessage.contains("kmv_sketch") || e.getMessage.contains("LONG")
      || e.getMessage.toLowerCase.contains("datatype mismatch"))
  }

  // ---- bottom-k sample sketch (sk7) ---------------------------------------

  /** Reference: rows sorted by hash, k smallest, VALUES in hash order. */
  private def refSample(rows: Seq[(Long, Long)], k: Int): Seq[Long] =
    rows.sortBy(_._1).take(k).map(_._2)

  test("sampleSketch ≡ sort-by-hash-take-k reference across partitionings (merge path exercised)") {
    val rnd = new scala.util.Random(17)
    // unique hashes (the caller contract: hash a unique row key)
    val rows = rnd.shuffle((1L to 800L).toList)
      .map(h => (h * 1048583L % (1L << 60), rnd.nextLong(1000)))
    for (k <- Seq(2, 32, 128); parts <- Seq(1, 7)) {
      val got = rows.toDF("h", "v").repartition(parts)
        .agg(Sketches.sampleSketch(col("h"), col("v"), k).as("sk"))
        .as[Seq[Long]].head()
      assert(got === refSample(rows, k), s"k=$k parts=$parts")
    }
  }

  test("sampleSketch below saturation returns ALL values in hash order; nulls skipped; empty → empty") {
    val got = Seq[(java.lang.Long, java.lang.Long)](
      (9L, 90L), (3L, 30L), (null, 77L), (5L, null), (1L, 10L))
      .toDF("h", "v")
      .agg(Sketches.sampleSketch(col("h"), col("v"), 64)).as[Seq[Long]].head()
    assert(got === Seq(10L, 30L, 90L))
    val empty = Seq.empty[(Long, Long)].toDF("h", "v")
      .agg(Sketches.sampleSketch(col("h"), col("v"), 64)).as[Seq[Long]].head()
    assert(empty === Seq.empty[Long])
  }

  test("sampleSketch keeps the first value on a duplicate hash and never displaces on ties") {
    // single partition so "first" is the row order
    val got = Seq((5L, 50L), (5L, 51L), (2L, 20L), (9L, 90L), (9L, 91L))
      .toDF("h", "v").coalesce(1)
      .agg(Sketches.sampleSketch(col("h"), col("v"), 2)).as[Seq[Long]].head()
    assert(got === Seq(20L, 50L))
  }

  test("grouped sample sketches are per-group and layout-invariant") {
    val rows = (1L to 100L).map(i => ("a", i * 7919L % 977L, i)) ++
      Seq(("b", 5L, 500L), ("b", 2L, 200L))
    for (parts <- Seq(1, 5)) {
      val got = rows.toDF("g", "h", "v").repartition(parts).groupBy("g")
        .agg(Sketches.sampleSketch(col("h"), col("v"), 8).as("sk"))
        .as[(String, Seq[Long])].collect().toMap
      assert(got("a") === refSample(rows.filter(_._1 == "a").map(r => (r._2, r._3)), 8))
      assert(got("b") === Seq(200L, 500L))
    }
  }

  test("sampleQuantile: (m-1)q interpolation — endpoints exact, midpoints interpolated") {
    val df = Seq(Seq(40L, 10L, 30L, 20L)).toDF("vals") // sorts to 10,20,30,40
    def q(p: Double): Double =
      df.select(Sketches.sampleQuantile(col("vals"), p)).as[Double].head()
    assert(q(0.0) === 10.0)
    assert(q(1.0) === 40.0)
    assert(q(0.5) === 25.0)          // idx 1.5 → 20 + .5*(30-20)
    assert(math.abs(q(0.25) - 17.5) < 1e-12) // idx 0.75 → 10 + .75*10
    assert(math.abs(q(0.95) - 38.5) < 1e-12) // idx 2.85 → 30 + .85*10
  }
}
