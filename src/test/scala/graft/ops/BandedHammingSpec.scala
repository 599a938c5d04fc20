package graft.ops

import graft.SparkSpec

/** The shared banded-hamming topology (mm9 batch / mm10 incremental):
  * band extraction, the ≤3-bit cannot-miss guarantee, the documented
  * 4+-bit spread miss, and the incremental arms' side labels. */
class BandedHammingSpec extends SparkSpec {
  import spark.implicits._

  // fingerprints as (lo, hi) 32-bit halves; band b flips = bit 16*b
  private def fp(id: Long, flips: Seq[Int]): (Long, Long, Long) = {
    // base pattern: alternating bits in every band
    val base = 0x5A5A5A5AL
    var lo = base
    var hi = base
    flips.foreach { bit =>
      if (bit < 32) lo ^= 1L << bit else hi ^= 1L << (bit - 32)
    }
    (id, lo, hi)
  }

  test("withBands: 4 rows per fingerprint, band b = the b-th 16-bit slice") {
    val df = Seq((1L, 0x00020001L, 0x00040003L)).toDF("doc_id", "h_lo", "h_hi")
    val got = BandedHamming.withBands(df, "h_lo", "h_hi")
      .select("band", "band_val").as[(Int, Long)].collect().toSet
    assert(got === Set((0, 1L), (1, 2L), (2, 3L), (3, 4L)))
  }

  test("selfPairs: hamming <= 3 pairs CANNOT be missed (pigeonhole: >= 1 " +
    "untouched band), distance filter exact, 4-bit all-band spread missed " +
    "by design, identical pair deduplicated across its 4 shared bands") {
    val rows = Seq(
      fp(1L, Nil),
      fp(2L, Seq(0)),            // hamming 1 vs id 1
      fp(3L, Seq(0, 17, 33)),    // hamming 3 vs id 1 — one band untouched
      fp(4L, Seq(1, 17, 33, 49)),// hamming 4 spread over ALL bands vs id 1
      fp(5L, (0 until 12).map(_ * 5)) // far from everything
    ).toDF("doc_id", "h_lo", "h_hi")
    val got = BandedHamming.selfPairs(rows, "doc_id", "h_lo", "h_hi", 6)
      .as[(Long, Long, Long)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)), "hamming-1 pair missed")
    assert(pairs.contains((1L, 3L)), "hamming-3 pair missed (cannot happen)")
    // the all-band spread shares no band — the documented recall trade
    assert(!pairs.contains((1L, 4L)),
      "4-bit all-band spread should not collide on any band")
    // exact distances on the found pairs
    val dist = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(dist((1L, 2L)) === 1L)
    assert(dist((1L, 3L)) === 3L)
    // each found pair appears exactly once despite multi-band collisions
    assert(got.map(r => (r._1, r._2)).distinct.length === got.length)
  }

  test("incrementalPairs: new-vs-existing and new-vs-new arms labeled, " +
    "existing-vs-existing never emitted, distances exact") {
    val existing = Seq(fp(1L, Nil), fp(2L, Seq(5)), fp(3L, (0 until 12).map(_ * 5)))
      .toDF("doc_id", "h_lo", "h_hi")
    val index = BandedHamming.withBands(existing, "h_lo", "h_hi")
      .select("band", "band_val", "doc_id", "h_lo", "h_hi")
    val batch = Seq(
      fp(10L, Nil),      // exact copy of existing 1, hamming 1 to existing 2
      fp(11L, Seq(40)),  // hamming 1 to existing 1 AND to new 10
      fp(12L, (0 until 12).map(_ * 5 + 1)) // novel
    ).toDF("doc_id", "h_lo", "h_hi")
    val got = BandedHamming
      .incrementalPairs(index, batch, "doc_id", "h_lo", "h_hi", 2)
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got === Set(
      (10L, 1L, "existing", 0L),
      (10L, 2L, "existing", 1L),
      (11L, 1L, "existing", 1L),
      (11L, 2L, "existing", 2L),
      (10L, 11L, "new", 1L)))
  }

  test("freshBatch + incrementalPairs: a re-submitted id (present in both " +
    "batch and index) is dropped from the new side — replay is idempotent, " +
    "no double report with both side labels (r14 ADVICE)") {
    val existing = Seq(fp(1L, Nil), fp(2L, Seq(5)))
      .toDF("doc_id", "h_lo", "h_hi")
    val index = BandedHamming.withBands(existing, "h_lo", "h_hi")
      .select("band", "band_val", "doc_id", "h_lo", "h_hi")
    val batch = Seq(
      fp(1L, Nil),       // re-submitted: same id AND fingerprint as index 1
      fp(10L, Seq(40))   // genuinely new, hamming 1 to (both copies of) 1
    ).toDF("doc_id", "h_lo", "h_hi")
    val got = BandedHamming.incrementalPairs(index,
        BandedHamming.freshBatch(index, batch, "doc_id"),
        "doc_id", "h_lo", "h_hi", 2)
      .as[(Long, Long, String, Long)].collect().toSet
    // 10 matches doc 1 ONCE, through the index copy; the replayed row
    // reports nothing (its pairs were reported when first indexed)
    assert(got === Set(
      (10L, 1L, "existing", 1L),
      (10L, 2L, "existing", 2L)))
  }
}
