package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

import graft.ingest.{EtlJob, IngestBatch}

/** Streaming ingest (SURVEY §2.9): the reference's 10-minute poll loop
  * (etl_job.py:141-149, every-10-min cron at dags/youbike_dag.py:135) mapped to
  * Structured Streaming — micro-batch trigger, watermarked dedup on
  * the warehouse unique key, and the tick's insert-only dim upsert and
  * fact append, through the tick's [[graft.ingest.EtlJob.Sinks]], as a
  * foreachBatch step.
  *
  * Scale posture: dropDuplicatesWithinWatermark keeps per-key state
  * only inside the watermark horizon (bounded state, keyed shuffle);
  * the dim upsert collects the batch's dims with the existing keys and
  * settles the new ones on the driver (both are driver-sized). At
  * 100 TB/day the same topology holds — state size is
  * keys-per-watermark-window, not history.
  */
object MicroBatchIngest {

  /** The event-time horizon of every watermark here. */
  val Watermark = "1 hour"

  /** Watermarked exactly-once-ish dedup on (station_no, record_time) —
    * the streaming analog of the DB unique key (sql/init_schema.sql:17,
    * IntegrityError-skip at etl_job.py:129-132). */
  def dedupWithinWatermark(facts: DataFrame): DataFrame =
    facts
      .withWatermark("record_time", Watermark)
      .dropDuplicatesWithinWatermark("station_no", "record_time")

  /** §2.9 watermarked windowed aggregation: tumbling 1-hour windows
    * per station over event time — the streaming form of the J2/A2
    * hourly rollup. Watermark bounds the window state ledger: windows
    * older than the horizon are finalized and dropped, so state is
    * (stations × open windows), not history. */
  def hourlyWindowStats(facts: DataFrame): DataFrame =
    facts
      .withWatermark("record_time", Watermark)
      .groupBy(window(col("record_time"), "1 hour"), col("station_no"))
      .agg(count(lit(1)).as("n"), avg("bikes_available").as("avg_bikes"))

  /** §2.9 custom state via `flatMapGroupsWithState`: cumulative per-
    * station event counts that survive across micro-batches — the
    * KeyValueGroupedDataset state API the built-in aggregations can't
    * express (emit-per-batch running totals). State per key is one
    * long; the shuffle is the groupByKey hash partitioning, identical
    * at 1000 executors. */
  def runningCounts(facts: DataFrame): Dataset[(String, Long)] = {
    val session = facts.sparkSession
    import session.implicits._
    facts.select(col("station_no")).as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[String], state: GroupState[Long]) => {
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator(key -> total)
        })
  }

  /** §2.9 watermarked STREAM-STREAM equi-join — the reference's
    * status⋈weather hourly merge (notebooks/03_data_merge.ipynb:79-87)
    * with BOTH sides unbounded: facts and weather readings join on
    * their 1-hour event-time window. Joining on equal `window()`
    * structs is the documented state-cleanup-eligible shape: with a
    * watermark on each side, Spark buffers only rows whose window can
    * still find partners inside the horizon and evicts everything
    * older, so join state is (rows per watermark window) per side —
    * bounded at any throughput, same topology at 1000 executors (the
    * shuffle is keyed on the window like any stream-stream join).
    * Inner join: a late reading (arriving past the watermark) simply
    * produces no pairs — the spec pins that drop. */
  def hourlyStreamJoin(facts: DataFrame, readings: DataFrame): DataFrame = {
    val l = facts.withWatermark("record_time", Watermark)
      .withColumn("hour_window", window(col("record_time"), "1 hour"))
    val r = readings.withWatermark("obs_time", Watermark)
      .withColumn("hour_window", window(col("obs_time"), "1 hour"))
    l.join(r, Seq("hour_window"))
  }

  /** Full sink wiring: watermark dedup, then each micro-batch loads
    * through the tick's [[EtlJob.Sinks]] by the tick's rule. `dims`
    * gives the batch's incoming dim rows; their [[IngestBatch.newDims]]
    * go first, as one one-partition local frame to `insertDims`, and
    * only when one is new; then the batch's facts go to `appendFacts`.
    * Dims go first as in the reference (etl_job.py:125, then
    * :129-132): a fact's `station_no` references `station_info`
    * (sql/init_schema.sql:18-19). */
  def writer(facts: DataFrame,
             dims: Long => DataFrame,
             sinks: EtlJob.Sinks,
             triggerInterval: String = "10 minutes"): DataStreamWriter[Row] =
    dedupWithinWatermark(facts)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val incoming = dims(batchId)
        val newDims = IngestBatch.newDims(incoming, sinks.existingDimKeys(), "station_no")
        if (newDims.nonEmpty)
          sinks.insertDims(IngestBatch.localFrame(batch.sparkSession, newDims, incoming.schema))
        sinks.appendFacts(batch)
      }
}
