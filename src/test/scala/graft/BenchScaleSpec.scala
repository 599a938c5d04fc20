package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextOps}

/** Pins the guarantees [[BenchScale]]'s inflation helpers rely on: the
  * scale bench's linearity claim is only meaningful if replication is
  * provably interaction-free (no cross-replica dedup merges or LSH
  * collisions) and structure-preserving (each replica reproduces the
  * original corpus's similarity relations exactly).
  */
class BenchScaleSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "entirely different content with no overlap at all here"),
    (3L, "the quick brown fox jumps over the lazy dog") // exact dup of 0
  ).toDF("doc_id", "text")

  test("inflateDocuments: ids stay unique, counts scale exactly") {
    val inflated = InflateSf.inflateDocuments(docs, 3)
    assert(inflated.count() === 12)
    assert(inflated.select("doc_id").distinct().count() === 12)
  }

  test("inflateEventsUsers: users replica-unique, nulls stay null, " +
    "hour-of-day preserved (the funnel/sessionize legs' isomorphism premise)") {
    val ev = Seq(
      (1L, Option(10L), "2024-01-01 10:30:00", "click"),
      (2L, Option(10L), "2024-01-01 11:00:00", "view"),
      (3L, Option.empty[Long], "2024-01-01 12:00:00", "click")
    ).toDF("event_id", "user_id", "ts_s", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val inf = InflateSf.inflateEventsUsers(ev, 3)
    assert(inf.count() === 9)
    assert(inf.select("event_id").distinct().count() === 9)
    // a null user never gains a replica identity (null·f+rep is null)
    assert(inf.filter(col("user_id").isNull).count() === 3)
    // the one real user becomes three replica-unique users
    assert(inf.filter(col("user_id").isNotNull)
      .select("user_id").distinct().count() === 3)
    // the shift is whole days: hour-of-day (and thus every hour-derived
    // flag) is replica-invariant
    assert(inf.select(hour(col("ts"))).distinct()
      .collect().map(_.getInt(0)).toSet === Set(10, 11, 12))
    // per-user gaps are shift-invariant: each replica of user 10 keeps
    // the 30-minute click→view gap
    val gaps = inf.filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
        / 1000000L).cast("long").as("gap"))
      .select("gap").distinct().collect().map(_.getLong(0)).toSet
    assert(gaps === Set(1800L))
  }

  test("inflateDocuments: per-replica token map preserves within-replica " +
    "similarity and zeroes cross-replica similarity") {
    val inflated = InflateSf.inflateDocuments(docs, 2)
      .withColumn("sh_set",
        array_distinct(TextOps.wordShingles(TextOps.words(col("text")), 3)))
    // replica of doc 0 (id 0*2+1=1... ids are doc_id*2+rep) vs its own
    // replica of doc 3: exact dup WITHIN replica 1
    val sets = inflated.select("doc_id", "sh_set").as[(Long, Seq[String])]
      .collect().toMap
    def jac(a: Seq[String], b: Seq[String]): Double =
      a.intersect(b).size.toDouble / a.union(b).distinct.size
    // within-replica relations mirror the original corpus
    assert(jac(sets(0L * 2 + 1), sets(3L * 2 + 1)) === 1.0) // dup pair survives
    assert(jac(sets(0L * 2 + 1), sets(1L * 2 + 1)) > 0.5)   // near-dup survives
    // cross-replica: same source doc, different replica -> zero overlap
    assert(jac(sets(0L * 2), sets(0L * 2 + 1)) === 0.0)
    assert(jac(sets(3L * 2), sets(0L * 2 + 1)) === 0.0)
  }

  test("inflateEvents: event ids stay unique, station set unchanged, " +
    "time range grows") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 08:00:00"), 7L, 10.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 9L, 20.0)
    ).toDF("event_id", "ts", "user_id", "value")
    val inflated = InflateSf.inflateEvents(ev, 3)
    assert(inflated.count() === 6)
    assert(inflated.select("event_id").distinct().count() === 6)
    assert(inflated.select("user_id").distinct().count() === 2)
    val days = inflated.select(countDistinct(to_date(col("ts")))).as[Long].head()
    assert(days === 3) // one replica per day offset
  }

  test("inflateEmbeddingsCells: each replica keeps the original geometry " +
    "exactly, and a vector's copies in other replicas are not its duplicates") {
    val a = Seq(1f, -2f, 3f, 0.5f, -1f, 2f, 0.25f, 4f)
    val b = Seq(0.5f, 1f, -1f, 2f, 3f, -0.5f, 1f, -2f)
    val emb = Seq((0L, a, 3), (1L, b, 4)).toDF("vec_id", "embedding", "label")
    val inf = InflateSf.inflateEmbeddingsCells(emb, 3)
      .as[(Long, Seq[Float], Int)].collect().map(r => r._1 -> r).toMap
    def dot(x: Seq[Float], y: Seq[Float]): Double =
      x.zip(y).map { case (p, q) => p.toDouble * q }.sum
    for (rep <- 0 until 3) {
      val (ra, rb) = (inf(0L * 3 + rep), inf(1L * 3 + rep))
      assert(dot(ra._2, rb._2) === dot(a, b))
      assert(dot(ra._2, ra._2) === dot(a, a))
      assert((ra._3, rb._3) === ((3 * 3 + rep, 4 * 3 + rep)))
    }
    assert(inf(0L)._2 === a)
    assert(inf(1L)._2 != a && inf(2L)._2 != a)
  }

  test("exact dedup on an inflated corpus never merges across replicas") {
    val inflated = InflateSf.inflateDocuments(docs, 4)
    val groups = Dedup.exactDedup(inflated, "text", "doc_id")
    // 3 distinct contents per replica (docs 0/3 collapse) x 4 replicas
    assert(groups.count() === 12)
    assert(groups.agg(sum("n_copies")).as[Long].head() === 16)
  }

  private val sf = "/root/testdata/sf0.001"

  test("every leg's queries are registered and every factor divides 10^6") {
    val legs = BenchScale.legs(spark, sf)
    assert(legs.map(_.name).distinct.size === legs.size)
    val names = legs.flatMap(_.runs).filter(_.fn.isEmpty).map(_.name)
    assert(names.nonEmpty)
    assert(names.filterNot(SparkEntry.queries.contains) === Nil)
    val factors = Seq(1, 10, 100) ++ legs.map(_.maxFactor).filter(_ < Int.MaxValue)
    assert(factors.filter(1000000 % _ != 0) === Nil)
    intercept[IllegalArgumentException](BenchScale.measure(spark, sf, Seq(1, 3), Nil))
  }

  test("the invariant check rejects an off-by-one count and a cross-replica pair") {
    import BenchScale._
    assert(violation(Linear, 2 * 37L, 37L, 2).isEmpty)
    assert(violation(Linear, 2 * 37L + 1, 37L, 2).isDefined)
    assert(violation(Constant, 38L, 37L, 10).isDefined)
    assert(violation(Near(0.05), 105L, 10L, 10).isEmpty)
    assert(violation(Near(0.05), 106L, 10L, 10).isDefined)
    // ids are orig·f + rep: (4, 2) share replica 0 at f = 2, (3, 6) don't
    val pairs = Seq((4L, 2L), (3L, 6L), (5L, 7L)).toDF("doc_a", "doc_b")
    val Seq(rows, cross) = read(pairs, Seq(Rows, CrossReplica("doc_a", "doc_b")), 2)
    assert(rows === 3L && cross === 1L)
    assert(violation(Exactly(0), cross, 0L, 2).isDefined)
  }

  test("smoke: an exact leg and a cross-replica leg at factors 1, 2") {
    val legs = BenchScale.legs(spark, sf).filter(l => Set("w_window", "dd_semantic")(l.name))
    val recs = BenchScale.measure(spark, sf, Seq(1, 2), legs)
    val w1 = recs(("w_window", "w1_lag_rate"))
    assert(w1.vals(1) === Seq(1000L) && w1.vals(2) === Seq(2000L))
    val dd10 = recs(("dd_semantic", "dd10_semantic_dedup"))
    assert(dd10.vals(2)(0) === 2 * dd10.vals(1)(0))
    assert(dd10.vals(1)(1) === 0L && dd10.vals(2)(1) === 0L)
    assert(recs.values.forall(r => r.sec.keySet == Set(1, 2)))
  }
}
