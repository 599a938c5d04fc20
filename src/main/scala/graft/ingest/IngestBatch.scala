package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Derive

/** The reference's ETL ingest pipeline (SURVEY §3.1, etl_job.py:83-132)
  * as composable batch stages: parse JSON records → validate required
  * columns (fail loudly) → project/rename → dedup dims → tz-normalize
  * facts → insert-only-new dim upsert via anti join.
  *
  * Reference provenance: extract guard etl_job.py:85-86 (F7), schema
  * validation etl_job.py:89-97 (tested by tests/test_etl.py:24-28),
  * projections/renames etl_job.py:99-104 (P1/P2), map-based rename
  * 03_data_merge.ipynb:57-63 (P3), tz normalize etl_job.py:106-109
  * (P8), dim dedup etl_job.py:101 (A8), anti-join upsert
  * etl_job.py:121-122 (J4), lenient cast 01:65 (P5).
  *
  * Scale posture: validation reads only the inferred schema; the
  * pipeline is map-side until the dedup/anti-join shuffles on the key.
  */
object IngestBatch {

  /** Loud failure mirroring the reference's KeyError (etl_job.py:92-97). */
  final case class MissingColumnsException(missing: Seq[String])
    extends RuntimeException(s"missing required columns: ${missing.mkString(", ")}")

  /** Empty-extract guard mirroring ValueError (etl_job.py:85-86, F7). */
  final case class EmptyBatchException(msg: String) extends RuntimeException(msg)

  val RequiredInfo: Seq[String] = Seq("sno", "sna", "sarea", "latitude", "longitude", "Quantity")
  val RequiredStatus: Seq[String] = Seq("sno", "available_rent_bikes", "available_return_bikes", "srcUpdateTime")

  /** S1 analog: parse a batch of JSON record strings (one object per
    * station snapshot row) into a DataFrame. */
  def parseJson(spark: SparkSession, records: Dataset[String]): DataFrame =
    spark.read.json(records)

  /** The tick's snapshot columns: every `RequiredInfo` key and the
    * status keys after `sno`. */
  val RequiredSnapshot: Seq[String] = RequiredInfo ++ RequiredStatus.drop(1)

  /** Parse and guard, for every ingest path (EtlJob, ing1).
    * `spark.read.json`'s inference job is the schema check, and it sets
    * the types the lenient casts see. Only a batch that inferred no
    * field, which is either empty or all `{}` records, runs the
    * [[requireNonEmpty]] job; so an empty batch raises
    * [[EmptyBatchException]], a batch of fieldless records
    * [[MissingColumnsException]], and any other batch is checked from
    * its schema alone. */
  def parseSnapshot(spark: SparkSession, records: Dataset[String], what: String): DataFrame = {
    val raw = parseJson(spark, records)
    if (raw.schema.isEmpty) requireNonEmpty(raw, what)
    validate(raw, RequiredSnapshot)
  }

  /** F7: raise on an empty extract. An eager Spark job of its own:
    * `head(1)` re-parses the batch, and on an empty one its limit scan
    * widens over every partition, so it may take more than one job.
    * [[parseSnapshot]] runs it only when inference found no field. */
  def requireNonEmpty(df: DataFrame, what: String): DataFrame = {
    if (df.head(1).isEmpty) throw EmptyBatchException(s"empty extract: $what")
    df
  }

  /** Schema validation by name; raises with ALL missing columns listed
    * (etl_job.py:92-97). Schema-only — triggers no job. */
  def validate(df: DataFrame, required: Seq[String]): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    if (missing.nonEmpty) throw MissingColumnsException(missing)
    df
  }

  /** P3: map-based rename applied only where the source column exists
    * and the target doesn't (03:57-63 duplicate-name guard). */
  def renameByMap(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (acc, (from, to)) =>
      if (acc.columns.contains(from) && !acc.columns.contains(to))
        acc.withColumnRenamed(from, to)
      else acc
    }

  /** P5: lenient numeric cast — null on malformed instead of the ANSI
    * runtime error (pandas to_numeric(errors='coerce'), 01:65). */
  def lenientInt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.try_cast("int")

  /** Transform stage (etl_job.py:99-111) of a [[parseSnapshot]] frame:
    * returns (dim, fact). */
  def transform(raw: DataFrame): (DataFrame, DataFrame) = {
    val dim = raw
      .select(
        col("sno").cast("string").as("station_no"),
        col("sna").as("name_tw"),
        col("sarea").as("district"),
        col("latitude").cast("double").as("lat"),
        col("longitude").cast("double").as("lng"),
        lenientInt(col("Quantity")).as("total_spaces"))
      .dropDuplicates("station_no")
    val fact = raw
      .select(
        col("sno").cast("string").as("station_no"),
        lenientInt(col("available_rent_bikes")).as("bikes_available"),
        lenientInt(col("available_return_bikes")).as("spaces_available"),
        Derive.taipeiToUtc(to_timestamp(col("srcUpdateTime"))).as("record_time"))
    (dim, fact)
  }

  /** J4: insert-only-new dim rows (etl_job.py:121-125). A left-anti
    * join keeps a row iff no existing key matches, so duplicate
    * existing keys need no dedup (a `distinct` would add a shuffle). */
  def newDimsOnly(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(broadcast(existing.select(key)), Seq(key), "left_anti")

  /** S8 batch analog: drop replays on the warehouse unique key before
    * append (sql/init_schema.sql:17). */
  def dedupFacts(facts: DataFrame): DataFrame =
    facts.dropDuplicates(Seq("station_no", "record_time"))
}
