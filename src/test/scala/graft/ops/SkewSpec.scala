package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Salting correctness: salted plans must produce exactly the plain
  * plan's results, just spread over more reducers. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // 90% of rows share one hot key — the canonical skew shape
  private def skewed = (1 to 1000).map { i =>
    (if (i <= 900) "hot" else s"k${i % 17}", i.toLong, i * 1.5)
  }.toDF("key", "row_id", "v")

  private def dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B"), ("k5", "C"))
    .toDF("key", "attr")

  test("saltedJoin returns exactly the plain equi-join result") {
    val plain = skewed.join(dim, Seq("key"))
      .select("key", "row_id", "v", "attr")
    val salted = Skew.saltedJoin(skewed, dim, "key", buckets = 8, col("row_id"))
      .select("key", "row_id", "v", "attr")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salt is deterministic across evaluations (retry-safe, no rand())") {
    val a = skewed.select(Skew.salt(8, col("row_id"))).as[Int].collect().toSeq
    val b = skewed.select(Skew.salt(8, col("row_id"))).as[Int].collect().toSeq
    assert(a === b)
    assert(a.distinct.size > 1, "salt must actually spread")
    assert(a.forall(s => s >= 0 && s < 8))
  }
}
