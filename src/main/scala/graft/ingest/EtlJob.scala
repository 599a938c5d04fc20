package graft.ingest

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.ListenerBridge

/** The reference's ETL service tick, end-to-end (etl_job.py:64-132,
  * SURVEY §3.1): extract (pluggable fetch, retried with linear
  * backoff) → parse JSON (empty-guard, validate) → transform (rename,
  * lenient cast, tz-normalize) → insert-only-new dim upsert →
  * within-batch fact dedup → sink appends. One [[runOnce]] call = one
  * 10-minute tick of the reference's loop (dags/youbike_dag.py:135);
  * scheduling stays outside (cron / Airflow / Structured Streaming via
  * [[graft.streaming.MicroBatchIngest]], which shares the same
  * stages and loads through the same [[Sinks]]).
  *
  * Scale posture: the batch is parsed against a declared schema and is
  * map-side until the dedup shuffle on the warehouse unique key; the new
  * dims are settled on the driver from the batch's dim rows and the
  * existing keys. The warehouse boundary is the pluggable [[Sinks]]
  * (JDBC in the reference via loaders/Readers.appendJdbc; parquet at
  * cluster scale; in-memory collectors in EtlJobSpec). A tick runs
  * each Spark pass it needs once, and every count and check it reports
  * comes from one of those passes (5 jobs a tick with parquet sinks,
  * counting the sink's own footer read):
  *   - the dims pass, one collect ([[IngestBatch.newDims]]): the batch's
  *     dim rows, unioned with the existing keys. It parses the records
  *     ([[IngestBatch.parseDeclared]], no inference job) and carries the
  *     schema check as an [[Observation]] (record count, and each
  *     required key's presence), read before any sink write. It gives
  *     `dimsInserted` and the one-partition local frame `insertDims`
  *     writes;
  *   - the sink's dims write, of that local frame, when it has a row;
  *   - the sink's own fact write, two jobs (the dedup shuffle map and
  *     the write), which counts the deduped facts through an
  *     [[Observation]] (no cache, no separate count).
  */
object EtlJob {

  /** Pluggable warehouse boundary, loaded in the reference's order:
    * new stations first (etl_job.py:125), then facts (:129-132), since
    * `station_status.station_no` references `station_info`
    * (sql/init_schema.sql:18-19).
    *
    * `existingDimKeys` returns a frame with at least a `station_no`
    * column (the reference's `SELECT station_no FROM station_info`,
    * etl_job.py:120-121). `insertDims` gets the tick's new stations as
    * a one-partition local frame, and only when there is at least one.
    * `appendFacts` must run the frame it is given exactly once, as a
    * Dataset action or write on it or on a frame derived from it:
    * `factsAppended` is counted by that run. A sink that returns
    * without running it fails the tick with
    * [[FactsNotWrittenException]]. */
  final case class Sinks(
    appendFacts: DataFrame => Unit,
    insertDims: DataFrame => Unit,
    existingDimKeys: () => DataFrame)

  final case class BatchResult(factsAppended: Long, dimsInserted: Long)

  /** `Sinks.appendFacts` returned without running its frame, so the
    * tick cannot know how many facts reached the warehouse. */
  final case class FactsNotWrittenException(msg: String) extends RuntimeException(msg)

  /** One extract→transform→load tick. Fetch errors retry
    * `attempts`× with `backoffMs × attempt` sleeps (etl_job.py:21-23);
    * an empty or schema-broken batch fails loudly after retries, like
    * the reference's ValueError/KeyError — a silent skip would look
    * like a healthy tick to the scheduler. */
  def runOnce(spark: SparkSession,
              fetch: () => Dataset[String],
              sinks: Sinks,
              attempts: Int = 3,
              backoffMs: Long = 2000): BatchResult = {
    val records = Retry.withBackoff(attempts, backoffMs)(fetch())
    val parsed = IngestBatch.parseDeclared(records)

    val check = Observation()
    val checks = IngestBatch.SnapshotCheck
    val dim = IngestBatch.dims(
      IngestBatch.snapshot(parsed.observe(check, checks.head, checks.tail: _*)))
    val dimRows = IngestBatch.newDims(dim, sinks.existingDimKeys(), "station_no")
    IngestBatch.requireSnapshot(
      observed(spark, check).getOrElse(
        throw new IllegalStateException("the dims pass recorded no snapshot check")),
      "station snapshot")
    if (dimRows.nonEmpty)
      sinks.insertDims(IngestBatch.localFrame(spark, dimRows, dim.schema))

    val written = Observation()
    sinks.appendFacts(IngestBatch.dedupFacts(IngestBatch.facts(IngestBatch.snapshot(parsed)))
      .observe(written, count(lit(1)).as("rows")))
    val factsAppended = observed(spark, written).map(_.getLong(0)).getOrElse(
      throw FactsNotWrittenException(
        "Sinks.appendFacts returned without running the facts frame it was given"))
    BatchResult(factsAppended, dimRows.length)
  }

  /** The metrics a run recorded in `observation`, or None if nothing ran
    * it. Spark completes an observation on the listener bus just after
    * the run returns; once the bus has drained (bounded:
    * `waitUntilEmpty` times out after 10 s), an observation still open
    * means no run carried it. `Observation.get` would wait forever
    * instead. */
  private def observed(spark: SparkSession, observation: Observation): Option[Row] = {
    if (Try(Await.ready(observation.future, 100.millis)).isFailure)
      ListenerBridge.drain(spark.sparkContext)
    observation.future.value.flatMap(_.toOption)
  }
}
