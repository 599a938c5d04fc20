package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded-hamming near-dup topology shared by the 64-bit
  * fingerprint families — SimHash text fingerprints (dd4's hash
  * space) and image dHash (mm9/mm10) — lifted to ONE helper so the
  * two stay semantically locked (r13 verdict ask #3): a fingerprint
  * held as two 32-bit halves is split into 4×16-bit band keys;
  * candidate pairs meet ONLY on a shared band (an equi-join, never
  * all-pairs), then verify by exact hamming distance.
  *
  * Recall contract (the MMDS banding argument on Hamming space): a
  * pair within hamming h differs in ≤ h of the 64 bits, so ≥ 4 − h
  * bands are untouched — any pair with h ≤ 3 MUST share a band and
  * CANNOT be missed; h in 4..6 is found unless the differing bits
  * spread across all four bands (the planted fixtures keep h ≤ 1,
  * where ≥ 3 bands match). At corpus scale the band key is the only
  * shuffle key and can become the storage partitioning key — the dd2
  * LSH posture on integer fingerprints.
  */
object BandedHamming {

  /** Exact hamming distance over the two-halves representation. */
  def hamming(loA: Column, hiA: Column, loB: Column, hiB: Column): Column =
    (bit_count(loA.bitwiseXOR(loB)) + bit_count(hiA.bitwiseXOR(hiB)))
      .cast("long")

  /** Explode each row into its 4 (band, band_val) key rows: band 0/1 =
    * low/high 16 bits of `loCol`, band 2/3 = low/high 16 bits of
    * `hiCol`. All other columns carried through. Refuses input that
    * already carries the output columns — withColumn would silently
    * overwrite them (e.g. re-banding an already-banded index frame
    * would corrupt every candidate key with no error; the
    * tokenBudgetMixture clash-guard precedent, r7 ADVICE). */
  def withBands(df: DataFrame, loCol: String, hiCol: String): DataFrame = {
    val outNames = Seq("band", "band_val", "__bk")
    val clash = df.columns.filter(outNames.contains)
    require(clash.isEmpty,
      s"input already has output column(s) ${clash.mkString(", ")} — " +
        "is this frame already banded?")
    val bands = array((0 until 4).map { b =>
      val half = if (b < 2) col(loCol) else col(hiCol)
      val shifted = if (b % 2 == 0) half else shiftright(half, 16)
      struct(lit(b).as("band"),
        shifted.bitwiseAND(lit(65535L)).as("band_val"))
    }: _*)
    df.withColumn("__bk", explode(bands))
      .withColumn("band", col("__bk.band"))
      .withColumn("band_val", col("__bk.band_val"))
      .drop("__bk")
  }

  /** The batch rows whose id is NOT already in the persisted index —
    * [[incrementalPairs]]' disjoint-id precondition made enforceable
    * (r14 ADVICE): a re-submitted id is treated as already-indexed and
    * reports nothing (its pairs were reported when first indexed —
    * dd11's idempotent-replay contract on fingerprints; genuinely-new
    * docs still pair with its INDEX copy through the 'existing' arm).
    * Apply ABOVE the caller's codec cache so the anti-join — one
    * narrow id column per side, strictly cheaper than the band join
    * that already shuffles the full index — runs once, not once per
    * plan arm; shuffle_hash keeps the plan SMJ-free (PlanAuditSpec). */
  def freshBatch(existingBands: DataFrame, newHashes: DataFrame,
                 idCol: String): DataFrame =
    newHashes.hint("shuffle_hash")
      .join(existingBands.select(col(idCol)).hint("shuffle_hash"),
        Seq(idCol), "left_anti")

  /** Batch self-join near-dup pairs (mm9's shape): (doc_a, doc_b,
    * hamming) for every unordered pair sharing ≥ 1 band with
    * hamming ≤ `maxHamming`. Both sides shuffle-hash on the band key;
    * a pair colliding in several bands is deduplicated BEFORE the
    * (cheap, but why pay it twice) hamming verify.
    *
    * `hashes`' lineage is read through BOTH join arms — if it carries
    * codec work (mm9's PNG decode), cache it upstream so the decode
    * runs once, not twice (the incrementalNearDups caller contract). */
  def selfPairs(hashes: DataFrame, idCol: String, loCol: String,
                hiCol: String, maxHamming: Int): DataFrame = {
    val bands = withBands(
      hashes.select(col(idCol), col(loCol), col(hiCol)), loCol, hiCol)
    val a = bands.select(col("band"), col("band_val"),
      col(idCol).as("doc_a"), col(loCol).as("lo_a"), col(hiCol).as("hi_a"))
    val b = bands.select(col("band"), col("band_val"),
      col(idCol).as("doc_b"), col(loCol).as("lo_b"), col(hiCol).as("hi_b"))
    a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "lo_a", "hi_a", "lo_b", "hi_b")
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        hamming(col("lo_a"), col("hi_a"), col("lo_b"), col("hi_b")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Incremental near-dup of a NEW batch against a PERSISTED band
    * index plus itself — dd11's production topology on fingerprints
    * (mm10): `existingBands` is the stored index with columns (band,
    * band_val, idCol, loCol, hiCol) — [[withBands]]' output schema,
    * written once; the existing corpus's payloads are never re-read
    * or re-decoded. Candidates = the batch's bands vs the index
    * (matched_side 'existing') plus the batch self-join (matched_side
    * 'new'), each arm deduplicated, verified by exact hamming.
    * Returns (new_doc, matched_doc, matched_side, hamming).
    *
    * `newHashes`' lineage is read through THREE plan arms (vs-existing
    * plus both sides of the self-join) — callers whose batch carries
    * codec work must cache it so the decode runs once, not three times
    * (the Dedup.incrementalNearDups caller contract; mm10 does this
    * through a cached [[graft.Artifacts]] frame).
    *
    * PRECONDITION (r14 ADVICE): the batch's id set must be DISJOINT
    * from the index's — a re-submitted id would otherwise be reported
    * twice with both side labels. Enforce it with [[freshBatch]]
    * applied ABOVE the caller's codec cache (mm10 does), so the
    * anti-join runs once instead of once per plan arm here. */
  def incrementalPairs(existingBands: DataFrame, newHashes: DataFrame,
                       idCol: String, loCol: String, hiCol: String,
                       maxHamming: Int): DataFrame = {
    val nb = withBands(
      newHashes.select(col(idCol), col(loCol), col(hiCol)), loCol, hiCol)
    val n = nb.select(col("band"), col("band_val"),
      col(idCol).as("new_doc"), col(loCol).as("lo_n"), col(hiCol).as("hi_n"))
    val e = existingBands.select(col("band"), col("band_val"),
      col(idCol).as("matched_doc"),
      col(loCol).as("lo_m"), col(hiCol).as("hi_m"))
    val vsExisting = n.hint("shuffle_hash")
      .join(e.hint("shuffle_hash"), Seq("band", "band_val"))
      .withColumn("matched_side", lit("existing"))
    val n2 = nb.select(col("band"), col("band_val"),
      col(idCol).as("matched_doc"),
      col(loCol).as("lo_m"), col(hiCol).as("hi_m"))
    val vsNew = n.hint("shuffle_hash")
      .join(n2.hint("shuffle_hash"), Seq("band", "band_val"))
      .filter(col("new_doc") < col("matched_doc"))
      .withColumn("matched_side", lit("new"))
    vsExisting.unionByName(vsNew)
      .select("new_doc", "matched_doc", "matched_side",
        "lo_n", "hi_n", "lo_m", "hi_m")
      .dropDuplicates("new_doc", "matched_doc", "matched_side")
      .withColumn("hamming",
        hamming(col("lo_n"), col("hi_n"), col("lo_m"), col("hi_m")))
      .filter(col("hamming") <= maxHamming)
      .select("new_doc", "matched_doc", "matched_side", "hamming")
  }
}
