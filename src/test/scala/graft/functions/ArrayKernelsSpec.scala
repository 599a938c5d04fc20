package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native kernels must be BIT-IDENTICAL to the interpreted
  * higher-order-function compositions they replaced — the DuckDB
  * oracles for dd5/ss1 were built against the HOF forms, so any
  * divergence (even one ulp) would surface as a hash mismatch. */
class ArrayKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** The original HOF dot product (Similarity r2) — reference form. */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def hofSqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, x) => acc + x)

  /** The original 64-fold SimHash (Dedup r2) — reference form. */
  private def hofSimhash(ws: Column): Column = {
    val hashes = transform(ws, w => xxhash64(w))
    val bits = (0 until 64).map { b =>
      val votes = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  private val floatVecs = Seq(
    (Array(1.0f, -2.5f, 3.25f, 0.1f), Array(0.5f, 4.0f, -1.75f, 2.2f)),
    (Array(1e-8f, 1e8f, -1e-8f, 1e8f), Array(1e8f, 1e-8f, 1e8f, -1e-8f)),
    (Array(0.0f, 0.0f, 0.0f, 0.0f), Array(1.0f, 2.0f, 3.0f, 4.0f)))

  test("dotD/sqDistD: bit-identical to the HOF fold on float vectors (incl. cancellation-sensitive cases)") {
    val df = floatVecs.toDF("a", "b")
    val rows = df.select(
      ArrayKernels.dotD($"a", $"b").as("k_dot"), hofDot($"a", $"b").as("h_dot"),
      ArrayKernels.sqDistD($"a", $"b").as("k_sq"), hofSqDist($"a", $"b").as("h_sq"))
      .collect()
    rows.foreach { r =>
      // bitwise, not approximate: fold order must match exactly
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("dotD: mixed float/double sides (IVF centroid case) match the HOF form") {
    val df = Seq((Array(1.5f, -2.0f, 0.25f), Array(0.1, 2.0 / 3.0, -7.125)))
      .toDF("f", "d")
    val r = df.select(ArrayKernels.dotD($"f", $"d"), hofDot($"f", $"d"),
      ArrayKernels.sqDistD($"f", $"d"), hofSqDist($"f", $"d")).head()
    assert(r.getDouble(0) === r.getDouble(1))
    assert(r.getDouble(2) === r.getDouble(3))
  }

  test("dotD: null on length mismatch (zip_with padding semantics) and on null input") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    val r = df.select(ArrayKernels.dotD($"a", $"b"), hofDot($"a", $"b")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    val rn = df.select(ArrayKernels.dotD(lit(null).cast("array<float>"), $"a")).head()
    assert(rn.isNullAt(0))
  }

  test("simhashPack(transform(xxhash64)): identical to the 64-fold form; empty array → 0") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs", "single").toDF("t")
      .select(split($"t", " ").as("ws"))
    val rows = df.select(
      Dedup_simhash($"ws").as("k"), hofSimhash($"ws").as("h")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    val empty = spark.sql("SELECT 1").select(
      Dedup_simhash(array().cast("array<string>"))).head()
    assert(empty.getLong(0) === 0L)
  }
  private def Dedup_simhash(ws: Column): Column = graft.llm.Dedup.simhash64(ws)

  test("kernels are SQL-registered (dot_double / sqdist_double / simhash_pack)") {
    GraftFunctions.register(spark)
    val r = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .selectExpr("dot_double(a, b)", "sqdist_double(a, b)",
        "simhash_pack(array(xxhash64('w')))")
      .head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 8.0)
  }

  test("minhashSig kernel: bit-identical to the k-fold HOF form, incl. null/empty shingle arrays") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "pack my box with five dozen liquor jugs",
      "a b", // < 3 words → empty shingle set
      "ünïcode shîngles über alles repeated ünïcode shîngles über")
      .toDF("t")
      .select(graft.llm.TextOps.wordShingles(split(lower($"t"), "\\s+"), 3).as("sh"))
      .unionAll(Seq(1).toDF("x").select(lit(null).cast("array<string>").as("sh")))
    for (k <- Seq(1, 9, 12)) {
      val rows = docs.select(
        ArrayKernels.minhashSig($"sh", k).as("kernel"),
        graft.llm.Dedup.minhashSigFold($"sh", k).as("fold")).collect()
      rows.foreach { r =>
        if (r.isNullAt(1)) assert(r.isNullAt(0), s"k=$k: kernel not null on null input")
        else assert(r.getSeq[String](0) === r.getSeq[String](1), s"k=$k mismatch")
      }
    }
    // null ELEMENTS are skipped exactly like array_min over null hashes
    val withNullElem = spark.sql(
      "SELECT array('one two three', cast(null as string), 'four five six') AS sh")
    val r = withNullElem.select(
      ArrayKernels.minhashSig($"sh", 4).as("kernel"),
      graft.llm.Dedup.minhashSigFold($"sh", 4).as("fold")).head()
    assert(r.getSeq[String](0) === r.getSeq[String](1))
  }

  test("minhashSig kernel ≡ fold form over seeded random shingle arrays (property)") {
    // seeded sample loop in place of scalacheck (FmtSpec convention:
    // the scalacheck bridge artifact isn't in the offline cache)
    val rnd = new scala.util.Random(20260813)
    val alphabets = Array("abcdefgh ", "日本語中文한국어 ", "àéîöü߃€ ", "a\t\"\\|:0123 ")
    def randString(): String = {
      val a = alphabets(rnd.nextInt(alphabets.length))
      Seq.fill(1 + rnd.nextInt(12))(a(rnd.nextInt(a.length))).mkString
    }
    val arrays: Seq[Seq[String]] = Seq.fill(60) {
      rnd.nextInt(4) match {
        case 0 => Seq.empty[String]
        case 1 => Seq.fill(1 + rnd.nextInt(3))(randString())
        case _ => Seq.fill(rnd.nextInt(40))(
          if (rnd.nextInt(10) == 0) null else randString())
      }
    }
    val df = arrays.toDF("sh")
    val rows = df.select(
      ArrayKernels.minhashSig($"sh", 7).as("kernel"),
      graft.llm.Dedup.minhashSigFold($"sh", 7).as("fold")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[String](0) === r.getSeq[String](1),
        s"sample $i: ${arrays(i)}")
    }
  }

  test("minhash_sig is SQL-registered and rejects a non-foldable k") {
    GraftFunctions.register(spark)
    val sig = spark.sql("SELECT minhash_sig(array('a b c', 'b c d'), 3) AS s")
      .head().getSeq[String](0)
    assert(sig.length === 3)
    assert(sig.forall(_.matches("[0-9a-f]{32}")))
    // on a session that never registered an Observation: the shared
    // session's ObservationManager listener re-plans a failed query and
    // logs the analysis error's stack trace from the listener bus
    val fresh = spark.newSession()
    GraftFunctions.register(fresh)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      fresh.sql("SELECT minhash_sig(array('a'), cast(id AS int)) FROM range(1)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("foldable"))
  }
}
