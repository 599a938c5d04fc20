package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("pointInInterval ≡ brute-force BETWEEN on crafted boundaries; half-open; once per pair; no cartesian") {
    val points = Seq(
      (1L, ts("2020-01-01 00:00:00")), // exactly at iv A start → included
      (2L, ts("2020-01-03 00:00:00")), // exactly at iv A end → EXCLUDED
      (3L, ts("2020-01-02 12:00:00")), // inside A, inside the wide C
      (4L, ts("2020-02-15 00:00:00")), // inside only the wide C
      (5L, ts("2019-12-31 23:59:59")), // just before everything
      (6L, ts("2020-03-31 23:59:59"))  // just inside C's last second
    ).toDF("p_id", "pt")
    val intervals = Seq(
      ("A", ts("2020-01-01 00:00:00"), ts("2020-01-03 00:00:00")), // 2 days
      ("B", ts("2020-01-02 12:00:00"), ts("2020-01-02 12:00:00")), // empty (start = end)
      ("C", ts("2020-01-02 00:00:00"), ts("2020-04-01 00:00:00")), // 90 days ≫ bucket
      ("D", ts("2020-05-01 00:00:00"), ts("2020-04-01 00:00:00"))  // reversed → matches nothing
    ).toDF("iv_id", "w_start", "w_end")

    for (widthSec <- Seq(86400L, 7L * 86400L, 45L * 86400L)) {
      val got = RangeJoin.pointInInterval(points, "pt", intervals,
          "w_start", "w_end", widthSec)
        .select("p_id", "iv_id").as[(Long, String)].collect().sorted.toSeq
      val ref = points.crossJoin(intervals)
        .filter($"pt" >= $"w_start" && $"pt" < $"w_end")
        .select("p_id", "iv_id").as[(Long, String)].collect().sorted.toSeq
      assert(got === ref, s"width=$widthSec")
      // expected by hand: 1→A (at start, included), 2→C (its A-end
      // exclusion doesn't remove it from the wide C), 3→A, 3→C, 4→C,
      // 6→C — and nothing else (2→A excluded at the half-open end)
      assert(ref === Seq((1L, "A"), (2L, "C"), (3L, "A"), (3L, "C"),
        (4L, "C"), (6L, "C")))
      // exactly once per pair even when the interval spans many buckets
      assert(got.distinct.size === got.size)
    }

    // the plan is a bucket equi-join, not a nested-loop/cartesian
    val plan = RangeJoin.pointInInterval(points, "pt", intervals,
        "w_start", "w_end", 86400L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan)
  }

  test("a pathologically reversed interval matches nothing WITHOUT exploding into its bucket span") {
    // end 56 years before start at width 1 s: sequence() would descend
    // through ~1.7e9 buckets (array-allocation failure / OOM) if the
    // reversed window reached the explode — the pre-filter must drop it.
    // The good interval spans two days (~173k buckets): a year at 1 s
    // would itself explode into 31.6M rows and cost the heap the test
    // is about
    val points = Seq((1L, ts("2020-06-01 00:00:00"))).toDF("p_id", "pt")
    val intervals = Seq(
      ("bad", ts("2026-01-01 00:00:00"), ts("1970-01-01 00:00:00")),
      ("good", ts("2020-05-31 00:00:00"), ts("2020-06-02 00:00:00"))
    ).toDF("iv_id", "w_start", "w_end")
    val got = RangeJoin.pointInInterval(points, "pt", intervals,
        "w_start", "w_end", 1L)
      .select("p_id", "iv_id").as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "good")))
  }

  test("pointInInterval on seeded random points/intervals matches brute force (property)") {
    val rnd = new scala.util.Random(31)
    val base = ts("2021-01-01 00:00:00").getTime
    val points = (1L to 300L).map(i =>
      (i, new Timestamp(base + rnd.nextInt(200 * 86400) * 1000L))).toDF("p_id", "pt")
    val intervals = (1L to 60L).map { i =>
      val s = base + rnd.nextInt(200 * 86400) * 1000L
      (i, new Timestamp(s), new Timestamp(s + rnd.nextInt(30 * 86400) * 1000L))
    }.toDF("iv_id", "w_start", "w_end")
    val got = RangeJoin.pointInInterval(points, "pt", intervals,
        "w_start", "w_end", 29L * 86400L)
      .select("p_id", "iv_id").as[(Long, Long)].collect().sorted.toSeq
    val ref = points.crossJoin(intervals)
      .filter($"pt" >= $"w_start" && $"pt" < $"w_end")
      .select("p_id", "iv_id").as[(Long, Long)].collect().sorted.toSeq
    assert(got === ref)
    assert(got.nonEmpty, "degenerate fixture: no matches at all")
  }
}
