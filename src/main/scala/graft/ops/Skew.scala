package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join/aggregation keys (the 100 TB brief's
  * "salting for skew").
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on
  * by default) already splits oversized shuffle partitions at runtime —
  * that is the first line of defense and needs no code. Explicit
  * salting remains the tool when the join is not a sort-merge join AQE
  * can rewrite (the banded LSH and SemDeDup cell joins).
  *
  * Salts are DERIVED (hash-based), never random — results must be
  * deterministic and retry-safe (a task retry with a different rand()
  * salt would double-count rows).
  */
object Skew {

  /** Deterministic per-row salt in [0, buckets): hash of the given
    * discriminator columns (pick high-cardinality ones, e.g. the event
    * id — NOT the skewed key itself, which would defeat the spread). */
  def salt(buckets: Int, discriminators: Column*): Column =
    pmod(xxhash64(discriminators: _*), lit(buckets.toLong)).cast("int")

  /** Salted equi-join: the (large, skewed) probe side joins on
    * (key, salt); the (small) build side is replicated `buckets` times
    * so every salted probe partition finds its match. The hot key's
    * rows spread over `buckets` reducers instead of one.
    *
    * Output columns = probe columns ++ build columns minus the key
    * duplicate (same as probe.join(build, key)). */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 buckets: Int, probeDiscriminators: Column*): DataFrame = {
    val salted = probe.withColumn("__salt", salt(buckets, probeDiscriminators: _*))
    val replicated = build
      .withColumn("__salt", explode(sequence(lit(0), lit(buckets - 1))))
      .withColumn("__salt", col("__salt").cast("int"))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
