package graft.ingest

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
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
  * stages).
  *
  * Scale posture: the batch is map-side until the dedup shuffle on the
  * warehouse unique key; the dim upsert anti-joins against a broadcast
  * of existing keys. The warehouse boundary is the pluggable [[Sinks]]
  * (JDBC in the reference via loaders/Readers.appendJdbc; parquet at
  * cluster scale; in-memory collectors in EtlJobSpec). A tick runs
  * each Spark pass it needs once, and every count it reports comes from
  * one of those passes (8 jobs a tick with parquet sinks, counting the
  * sink's own footer read):
  *   - `spark.read.json`'s schema inference, which is also the schema
  *     check ([[IngestBatch.parseSnapshot]]; the `head(1)` empty guard
  *     runs only when inference found no field);
  *   - the new dims, collected to the driver once: that pass gives
  *     `dimsInserted` and the local frame `insertDims` writes. The set
  *     is driver-sized already, since the anti-join broadcasts every
  *     existing key; a cached frame would cost a cache fill and a count
  *     on top of the same pass;
  *   - the sink's own fact write, which counts the deduped facts
  *     through an [[Observation]] (no cache, no separate count).
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
    * a local frame, and only when there is at least one.
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
    val raw = IngestBatch.parseSnapshot(spark, records, "station snapshot")
    val (dim, fact) = IngestBatch.transform(raw)

    val newDims = IngestBatch.newDimsOnly(dim, sinks.existingDimKeys(), "station_no")
    val dimRows = newDims.collect()
    if (dimRows.nonEmpty)
      sinks.insertDims(spark.createDataFrame(dimRows.toSeq.asJava, newDims.schema))

    val observation = Observation()
    sinks.appendFacts(
      IngestBatch.dedupFacts(fact).observe(observation, count(lit(1)).as("rows")))
    BatchResult(observedRows(spark, observation), dimRows.length)
  }

  /** The row count a sink's run recorded in `observation`. Spark
    * completes it on the listener bus just after that run returns; once
    * the bus has drained (bounded: `waitUntilEmpty` times out after
    * 10 s), an observation still open means the sink never ran the
    * frame. `Observation.get` would wait forever instead. */
  private def observedRows(spark: SparkSession, observation: Observation): Long = {
    if (Try(Await.ready(observation.future, 100.millis)).isFailure)
      ListenerBridge.drain(spark.sparkContext)
    observation.future.value.flatMap(_.toOption).map(_.getLong(0)).getOrElse(
      throw FactsNotWrittenException(
        "Sinks.appendFacts returned without running the facts frame it was given"))
  }
}
