package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructType}

import graft.ops.Derive

/** The reference's ETL ingest pipeline (SURVEY §3.1, etl_job.py:83-132)
  * as composable batch stages: parse JSON records against a declared
  * schema → check required keys (fail loudly) → project/rename →
  * tz-normalize facts → insert-only-new dims, first row per key.
  *
  * Reference provenance: extract guard etl_job.py:85-86 (F7), schema
  * validation etl_job.py:89-97 (tested by tests/test_etl.py:24-28),
  * projections/renames etl_job.py:99-104 (P1/P2), map-based rename
  * 03_data_merge.ipynb:57-63 (P3), tz normalize etl_job.py:106-109
  * (P8), dim dedup etl_job.py:101 (A8), insert-only-new dims
  * etl_job.py:121-122 (J4), lenient cast 01:65 (P5).
  *
  * Scale posture: parsing and the key check ride the passes that read
  * the batch anyway (no inference pass); the facts are map-side until
  * their dedup shuffle on the warehouse key; the new dims are settled on
  * the driver, from a set the size of the batch plus the existing keys.
  */
object IngestBatch {

  /** Loud failure mirroring the reference's KeyError (etl_job.py:92-97). */
  final case class MissingColumnsException(missing: Seq[String])
    extends RuntimeException(s"missing required columns: ${missing.mkString(", ")}")

  /** Empty-extract guard mirroring ValueError (etl_job.py:85-86, F7). */
  final case class EmptyBatchException(msg: String) extends RuntimeException(msg)

  val RequiredInfo: Seq[String] = Seq("sno", "sna", "sarea", "latitude", "longitude", "Quantity")
  val RequiredStatus: Seq[String] = Seq("sno", "available_rent_bikes", "available_return_bikes", "srcUpdateTime")

  /** The tick's snapshot columns: every `RequiredInfo` key and the
    * status keys after `sno`. */
  val RequiredSnapshot: Seq[String] = RequiredInfo ++ RequiredStatus.drop(1)

  /** The declared schema of one snapshot record: a JSON object whose
    * values are kept as their JSON text (a number's digits, a string's
    * content, null for a JSON null). Every reader casts the fields it
    * takes, so a field's type never depends on which records share its
    * batch. */
  val SnapshotRecord: MapType = MapType(StringType, StringType)

  /** S1 analog under the declared [[SnapshotRecord]] schema: one map
    * column `m` per record, and no Spark job. A line that is not a JSON
    * object parses to a null `m`; [[snapshot]] drops it, so the rest of
    * its batch still loads. */
  def parseDeclared(records: Dataset[String]): DataFrame =
    records.select(from_json(col(records.columns.head), SnapshotRecord).as("m"))

  /** The snapshot check, as aggregates over [[parseDeclared]]'s frame:
    * the record count `n`, then for each `RequiredSnapshot` key whether
    * some record holds it (null counts as held). The tick observes them
    * on its dims pass; ing1 runs them as one aggregate at build.
    * [[requireSnapshot]] reads the row. */
  val SnapshotCheck: Seq[Column] =
    count(lit(1)).as("n") +:
      RequiredSnapshot.map(k => max(map_contains_key(col("m"), lit(k))).as(k))

  /** F7 and the schema validation (etl_job.py:85-97) from a
    * [[SnapshotCheck]] row: no record raises [[EmptyBatchException]], and
    * a key that no record holds raises [[MissingColumnsException]]
    * listing every such key. A key that is present but null in every
    * record passes: its columns are null, as a lenient cast makes them. */
  def requireSnapshot(check: Row, what: String): Unit = {
    if (check.getLong(0) == 0) throw EmptyBatchException(s"empty extract: $what")
    val missing = RequiredSnapshot.zipWithIndex.collect {
      case (k, i) if check.isNullAt(i + 1) || !check.getBoolean(i + 1) => k
    }
    if (missing.nonEmpty) throw MissingColumnsException(missing)
  }

  /** The `RequiredSnapshot` keys of [[parseDeclared]]'s records as
    * string columns, null where a record lacks the key: the frame
    * [[dims]] and [[facts]] take. Lines that did not parse are dropped. */
  def snapshot(parsed: DataFrame): DataFrame =
    parsed.where(col("m").isNotNull)
      .select(RequiredSnapshot.map(k => col("m").getItem(k).as(k)): _*)

  /** P3: map-based rename applied only where the source column exists
    * and the target doesn't (03:57-63 duplicate-name guard). */
  def renameByMap(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (acc, (from, to)) =>
      if (acc.columns.contains(from) && !acc.columns.contains(to))
        acc.withColumnRenamed(from, to)
      else acc
    }

  /** P5: lenient int cast — null on malformed instead of the ANSI
    * runtime error (pandas to_numeric(errors='coerce'), 01:65). The
    * value is cast from its text, so one rule holds whatever type a
    * parser gave the field: an integer literal (a sign and surrounding
    * spaces allowed) casts, and anything else is null. A fractional
    * number is null too, `28.5` and `"28.5"` alike (and `28.0`, whose
    * JSON text keeps the fraction): the warehouse column is an integer,
    * and a silent truncation would change a count. */
  def lenientInt(c: Column): Column =
    c.cast("string").try_cast("int")

  /** Transform stage (etl_job.py:99-104), dim side, of a [[snapshot]]
    * frame: one row per record; [[newDims]] keeps one per station. */
  def dims(raw: DataFrame): DataFrame =
    raw.select(
      col("sno").cast("string").as("station_no"),
      col("sna").as("name_tw"),
      col("sarea").as("district"),
      col("latitude").cast("double").as("lat"),
      col("longitude").cast("double").as("lng"),
      lenientInt(col("Quantity")).as("total_spaces"))

  /** Transform stage (etl_job.py:99-111), fact side: Taipei-local update
    * times normalized to UTC. */
  def facts(raw: DataFrame): DataFrame =
    raw.select(
      col("sno").cast("string").as("station_no"),
      lenientInt(col("available_rent_bikes")).as("bikes_available"),
      lenientInt(col("available_return_bikes")).as("spaces_available"),
      Derive.taipeiToUtc(to_timestamp(col("srcUpdateTime"))).as("record_time"))

  /** J4 + A8: the incoming dim rows whose `key` the warehouse does not
    * hold yet (etl_job.py:121-125), the first row per key
    * (etl_job.py:101), in one Spark job. The batch's rows, tagged, are
    * collected together with the existing keys and settled on the
    * driver, which so receives at most the batch plus the existing keys
    * (a broadcast of those keys would bring them through the driver
    * too). Duplicate existing keys change nothing; a null key matches no
    * existing key, as in SQL, and keeps one row. */
  def newDims(incoming: DataFrame, existing: DataFrame, key: String): Seq[Row] = {
    val tag = "__incoming"
    val rows = incoming.select(lit(true).as(tag) +: incoming.columns.toSeq.map(incoming.col): _*)
      .unionByName(
        existing.select(lit(false).as(tag), col(key).cast(incoming.schema(key).dataType).as(key)),
        allowMissingColumns = true)
      .collect()
    val k = incoming.columns.indexOf(key) + 1
    val known = rows.iterator.filterNot(_.getBoolean(0)).map(_.get(k)).filter(_ != null).toSet
    rows.toSeq.filter(r => r.getBoolean(0) && !known(r.get(k)))
      .distinctBy(_.get(k)).map(r => Row.fromSeq(r.toSeq.tail))
  }

  /** Driver-held rows as a one-partition local frame, so a sink appends
    * them as one file (a local frame otherwise splits into up to
    * `defaultParallelism` partitions, a file each). */
  def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  /** S8 batch analog: drop replays on the warehouse unique key before
    * append (sql/init_schema.sql:17). */
  def dedupFacts(facts: DataFrame): DataFrame =
    facts.dropDuplicates(Seq("station_no", "record_time"))
}
