package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The test-data replicators and the one writer of inflated data
  * directories. Two consumers:
  *  - `main` writes the 10× suite directory that BENCH_SF1 /
  *    DUCKBENCH_SF1 measure the full like-for-like suite on ([[Suite]]);
  *  - [[BenchScale]] writes one directory per (leg layout, factor) and
  *    runs the registered queries over it.
  *
  * Replication is deterministic and interaction-free, with the replica
  * id folded into every key so cardinalities scale exactly. Fact tables
  * grow; dimension tables don't (the real-warehouse shape, and what
  * keeps the broadcast-dim queries honest). The planted fixtures add
  * 1,000,000 and 2,000,000 to ids, which keeps `id mod f` (the replica)
  * only when f divides 10^6.
  *
  * One parquet FILE per table (matching the driver's layout — DuckDB's
  * read_parquet and the file-stream sources address files, not dirs).
  */
object InflateSf {

  /** How one table grows by a factor. */
  type Replicator = (DataFrame, Int) => DataFrame

  private def withReplica(df: DataFrame, f: Int): DataFrame =
    df.crossJoin(broadcast(df.sparkSession.range(f).select(col("id").as("rep"))))

  /** events ×f: `event_id*f+rep` (unique), `ts + rep days` (time range
    * grows, per-hour density constant), station ids unchanged. */
  def inflateEvents(ev: DataFrame, f: Int): DataFrame =
    withReplica(ev, f)
      .withColumn("event_id", col("event_id") * f + col("rep"))
      .withColumn("ts",
        col("ts") + make_dt_interval(col("rep").cast("int"), lit(0), lit(0), lit(0)))
      .drop("rep")

  /** events ×f with replica-unique USERS: the same shift-by-rep-days
    * time axis as [[inflateEvents]], but user_id (when non-null) also
    * becomes replica-unique — every replica is an ISOMORPHIC copy of
    * the original user population (per-user event sequences, gaps and
    * funnel windows are preserved under the uniform whole-day shift),
    * so user-keyed session/funnel operators must produce EXACTLY f ×
    * their 1× output. Without the remap, one user's replicas would
    * interleave on the shared id and the outputs would not replicate. */
  def inflateEventsUsers(ev: DataFrame, f: Int): DataFrame =
    withReplica(ev, f)
      .withColumn("event_id", col("event_id") * f + col("rep"))
      .withColumn("user_id", col("user_id") * f + col("rep"))
      .withColumn("ts",
        col("ts") + make_dt_interval(col("rep").cast("int"), lit(0), lit(0), lit(0)))
      .drop("rep")

  /** documents ×f with replica-unique doc ids and token spaces: every
    * word gets an `r{rep}_` prefix, so within-replica shingle-set
    * relations (and thus Jaccard/MinHash/LSH behavior) are isomorphic
    * to the original corpus while cross-replica similarity is zero. */
  def inflateDocuments(docs: DataFrame, f: Int): DataFrame =
    withReplica(docs, f)
      .withColumn("doc_id", col("doc_id") * f + col("rep"))
      .withColumn("text",
        array_join(
          transform(split(col("text"), "\\s+"),
            w => concat(lit("r"), col("rep").cast("string"), lit("_"), w)),
          " "))
      .drop("rep")

  /** embeddings ×f with replica-unique vector ids, vectors unchanged
    * (ANN cost is rows × dim, independent of values). */
  def inflateEmbeddings(emb: DataFrame, f: Int): DataFrame =
    withReplica(emb, f)
      .withColumn("vec_id", col("vec_id") * f + col("rep"))
      .drop("rep")

  /** embeddings ×f as replica-disjoint label cells: label·f + rep, and
    * each replica's components sign-flipped by a fixed per-replica
    * pattern (replica 0 unchanged). A sign flip is exact, so a
    * replica's norms, dot products and label centroids are bit-for-bit
    * those of the original, while a copy of a vector in another replica
    * is no longer its duplicate (plain copies would tie on every
    * centroid and pair as cos = 1 across replicas). Cells stay the same
    * size and grow in number with the corpus. */
  def inflateEmbeddingsCells(emb: DataFrame, f: Int): DataFrame =
    withReplica(emb, f)
      .withColumn("vec_id", col("vec_id") * f + col("rep"))
      .withColumn("label", (col("label") * f + col("rep")).cast("int"))
      .withColumn("embedding", transform(col("embedding"), (x, i) =>
        when(col("rep") === 0 || pmod(xxhash64(col("rep"), i), lit(2L)) === 0, x)
          .otherwise(-x)))
      .drop("rep")

  /** Verbatim ×f copies (aggregate-only consumers). */
  def repeat(df: DataFrame, f: Int): DataFrame =
    df.crossJoin(broadcast(df.sparkSession.range(f).select(col("id").as("__rep"))))
      .drop("__rep")

  /** A dimension table, copied through 1×. */
  val copy: Replicator = (df, _) => df

  /** The 10× suite directory: facts through the replicators,
    * lineitem/orders verbatim ×f, dimensions 1×. */
  val Suite: Seq[(String, Replicator)] = Seq(
    "events" -> inflateEvents, "documents" -> inflateDocuments,
    "embeddings" -> inflateEmbeddings, "lineitem" -> repeat, "orders" -> repeat,
    "region" -> copy, "nation" -> copy, "customer" -> copy, "supplier" -> copy,
    "part" -> copy)

  /** Writes each of `tables` of the data directory `src`, grown ×f by
    * its replicator, as `dst/<table>.parquet`. */
  def write(spark: SparkSession, src: String, dst: Path, f: Int,
            tables: Seq[(String, Replicator)]): Unit = {
    Files.createDirectories(dst)
    for ((table, grow) <- tables) {
      val df = grow(spark.read.parquet(s"$src/$table.parquet"), f)
      val dest = dst.resolve(s"$table.parquet")
      LocalRun.writeSingleParquet(df, dest)
      System.err.println(s"[inflate] $table: ${df.columns.length} cols -> $dest")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val f = if (args.length > 2) args(2).toInt else 10
    val spark = LocalRun.session(32)
    write(spark, src, Paths.get(dst), f, Suite)
    spark.stop()
  }
}
