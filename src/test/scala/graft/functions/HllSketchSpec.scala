package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Sketches

class HllSketchSpec extends SparkSpec {
  import spark.implicits._

  private val P = 8
  private val M = 1 << P

  /** Independent register reference: per-bucket max rank over the
    * distinct-free raw stream (max is idempotent, so no distinct
    * needed) — the arithmetic HllSketchAgg.insert implements. */
  private def refRegs(hs: Seq[Long], p: Int = P): Seq[Int] = {
    val w = 60 - p
    val regs = new Array[Int](1 << p)
    hs.foreach { h =>
      val bucket = (h >>> w).toInt
      val rem = h & ((1L << w) - 1L)
      val rho =
        if (rem == 0L) w + 1
        else java.lang.Long.numberOfLeadingZeros(rem) - (64 - w) + 1
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    regs.toSeq
  }

  test("hllSketch ≡ per-bucket max-rank reference across partitionings (merge path exercised)") {
    val rnd = new scala.util.Random(17)
    val vals = Seq.fill(4000)(rnd.nextLong(1L << 60)) ++
      Seq.fill(300)(rnd.nextLong(50) + 3) // duplicates: max is idempotent
    for (parts <- Seq(1, 7)) {
      val got = vals.toDF("h").repartition(parts)
        .agg(Sketches.hllSketch(col("h"), P).as("regs"))
        .as[Seq[Int]].head()
      assert(got === refRegs(vals), s"parts=$parts")
    }
  }

  test("rank edge cases: all-zero remainder → w+1, top-bit remainder → 1, empty input → all-zero registers") {
    val w = 60 - P
    // h = bucket 3, remainder 0 → rho = w+1; h = bucket 2 with remainder
    // having its top bit set → rho = 1; h = bucket 0, remainder 1 → rho = w
    val rows = Seq(3L << w, (2L << w) | (1L << (w - 1)), 1L)
    val got = rows.toDF("h").agg(Sketches.hllSketch(col("h"), P))
      .as[Seq[Int]].head()
    assert(got(3) === w + 1)
    assert(got(2) === 1)
    assert(got(0) === w)
    assert(got.count(_ != 0) === 3)
    val empty = Seq.empty[Long].toDF("h")
      .agg(Sketches.hllSketch(col("h"), P)).as[Seq[Int]].head()
    assert(empty === Seq.fill(M)(0))
  }

  test("nulls ignored; grouped sketches stay per-group") {
    val rows = Seq(("a", java.lang.Long.valueOf(1L)), ("a", null),
      ("b", java.lang.Long.valueOf(1L << 59)))
      .toDF("g", "h")
    val got = rows.groupBy("g")
      .agg(Sketches.hllSketch(col("h"), P).as("regs"))
      .as[(String, Seq[Int])].collect().toMap
    assert(got("a") === refRegs(Seq(1L)))
    assert(got("b") === refRegs(Seq(1L << 59)))
  }

  test("two-level merge (element-wise max of shard sketches) ≡ direct sketch — the union property") {
    val rnd = new scala.util.Random(19)
    val rows = Seq.fill(5000)((rnd.nextInt(8), rnd.nextLong(1L << 60)))
    val df = rows.toDF("shard", "h").cache()
    try {
      val l1 = df.groupBy("shard")
        .agg(Sketches.hllSketch(col("h"), P).as("regs"))
      val merged = l1
        .select(posexplode(col("regs")).as(Seq("bucket", "r")))
        .groupBy("bucket").agg(max(col("r")).as("mr"))
        .orderBy("bucket").as[(Int, Int)].collect().map(_._2).toSeq
      val direct = df.agg(Sketches.hllSketch(col("h"), P))
        .as[Seq[Int]].head()
      assert(merged === direct)
      assert(direct === refRegs(rows.map(_._2)))
    } finally { df.unpersist(blocking = false); () }
  }

  test("hllMerge aggregate ≡ direct sketch across partitionings (sk8's in-plan rollup)") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(5000)((rnd.nextInt(8), rnd.nextLong(1L << 60)))
    val direct = refRegs(rows.map(_._2))
    val l1 = rows.toDF("shard", "h").groupBy("shard")
      .agg(Sketches.hllSketch(col("h"), P).as("regs"))
    // partial/final split exercised: repartition the 8 shard sketches
    // so the merge aggregate combines across partitions too
    for (parts <- Seq(1, 3)) {
      val merged = l1.repartition(parts)
        .agg(Sketches.hllMerge(col("regs"), P).as("m"))
        .as[Seq[Int]].head()
      assert(merged === direct, s"parts=$parts")
    }
    // empty input → all-zero registers (the identity element)
    val empty = Seq.empty[Seq[Int]].toDF("regs")
      .agg(Sketches.hllMerge(col("regs"), P)).as[Seq[Int]].head()
    assert(empty === Seq.fill(M)(0))
  }

  test("hllMerge rejects a register array of the wrong length (p mismatch)") {
    val bad = Seq(Seq.fill(64)(1)).toDF("regs")
    val ex = intercept[Exception] {
      bad.agg(Sketches.hllMerge(col("regs"), P)).collect()
    }
    assert(ex.getMessage != null)
  }

  test("hllMerge rejects a NULL register element (fail-fast, not silent 0)") {
    // r11 ADVICE: a NULL array element used to be read as an undefined
    // value (0 on unsafe rows) and merged silently — it must raise the
    // same descriptive not-a-register-array error the range check does
    val bad = Seq(Seq.fill(M)(Option(1)).updated(3, Option.empty[Int]))
      .toDF("regs")
    val ex = intercept[Exception] {
      bad.agg(Sketches.hllMerge(col("regs"), P)).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("NULL register")),
      s"expected the NULL-register message in: ${chain(ex)}")
  }

  test("estimate: small-range arm is exactly m·ln(m/V); saturated arm within 4/sqrt(m) relative error") {
    // 20 distinct spread across buckets → linear-counting arm
    val small = (1L to 20L).map(i => i << 35)
    val smallEst = small.toDF("h")
      .agg(Sketches.hllEstimate(Sketches.hllSketch(col("h"), P), P))
      .as[Double].head()
    val v = refRegs(small).count(_ == 0)
    assert(math.abs(smallEst - M.toDouble * math.log(M.toDouble / v)) < 1e-9)
    // 20k distinct md5-hashed tokens (the real hash space) → raw arm
    val n = 20000
    val est = (1 to n).map(i => s"tok_$i").toDF("tok")
      .agg(Sketches.hllEstimate(
        Sketches.hllSketch(Sketches.hash60(col("tok")), P), P))
      .as[Double].head()
    val relErr = math.abs(est - n) / n
    assert(relErr < 4.0 / math.sqrt(M.toDouble), s"est=$est relErr=$relErr")
  }

  test("hll_sketch rejects non-long input with the hash-space hint") {
    // on a session that never registered an Observation: the shared
    // session's ObservationManager listener re-plans a failed query and
    // logs the analysis error's stack trace from the listener bus
    val fresh = spark.newSession()
    val e = intercept[Exception] {
      fresh.createDataFrame(Seq(Tuple1("x"))).toDF("tok")
        .agg(Sketches.hllSketch(col("tok"), P)).collect()
    }
    assert(e.getMessage.contains("hll_sketch") || e.getMessage.contains("LONG")
      || e.getMessage.toLowerCase.contains("datatype mismatch"))
  }
}
