package graft.ingest

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec

/** End-to-end contract of the ETL service tick, mirroring the
  * reference's pytest coverage of transform_data plus the load-side
  * behaviors its service loop adds (tests/test_etl.py:18-57,
  * etl_job.py:64-132). */
class EtlJobSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  private def record(sno: String, q: String = "30", t: String = "2025-12-10 15:00:00") =
    s"""{"sno":"$sno","sna":"n$sno","sarea":"d1","latitude":25.04,"longitude":121.52,
       |"Quantity":$q,"available_rent_bikes":5,"available_return_bikes":25,
       |"srcUpdateTime":"$t"}""".stripMargin.replace("\n", "")

  private class MemSink {
    val facts = scala.collection.mutable.ArrayBuffer[(String, java.sql.Timestamp)]()
    val dims = scala.collection.mutable.ArrayBuffer[String]()
    def sinks: EtlJob.Sinks = EtlJob.Sinks(
      appendFacts = b => facts ++= b.select("station_no", "record_time")
        .as[(String, java.sql.Timestamp)].collect(),
      insertDims = b => dims ++= b.select("station_no").as[String].collect(),
      existingDimKeys = () => dims.toSeq.toDF("station_no"))
  }

  test("runOnce: transform + dedup + insert-only dims across two ticks") {
    val sink = new MemSink
    // tick 1: replayed fact inside the batch; two stations
    val r1 = EtlJob.runOnce(spark,
      () => Seq(record("s1"), record("s1"), record("s2")).toDS(), sink.sinks)
    assert(r1 === EtlJob.BatchResult(2, 2))
    // +8h Taipei → UTC applied
    assert(sink.facts.forall(_._2.toString.startsWith("2025-12-10 07:00")))
    // tick 2: s1 known (no new dim), s3 new; later timestamp
    val r2 = EtlJob.runOnce(spark,
      () => Seq(record("s1", t = "2025-12-10 15:10:00"), record("s3")).toDS(), sink.sinks)
    assert(r2 === EtlJob.BatchResult(2, 1))
    assert(sink.dims.sorted === Seq("s1", "s2", "s3"))
  }

  test("runOnce: fetch retried with backoff, succeeds on the final attempt") {
    val sink = new MemSink
    var calls = 0
    val r = EtlJob.runOnce(spark, () => {
      calls += 1
      if (calls < 3) throw new RuntimeException(s"timeout $calls")
      Seq(record("s9")).toDS()
    }, sink.sinks, attempts = 3, backoffMs = 1)
    assert(calls === 3)
    assert(r === EtlJob.BatchResult(1, 1))
  }

  test("runOnce: empty extract and missing columns fail loudly, nothing sunk") {
    val sink = new MemSink
    intercept[IngestBatch.EmptyBatchException] {
      EtlJob.runOnce(spark, () => Seq.empty[String].toDS(), sink.sinks, backoffMs = 1)
    }
    intercept[IngestBatch.MissingColumnsException] {
      EtlJob.runOnce(spark, () => Seq("""{"sno":"1","sna":"A"}""").toDS(),
        sink.sinks, backoffMs = 1)
    }
    assert(sink.facts.isEmpty && sink.dims.isEmpty)
  }

  test("runOnce: dims load before facts, so a foreign-key warehouse accepts a new station's first facts") {
    val sink = new MemSink
    // station_status.station_no references station_info (sql/init_schema.sql:18-19)
    val fkSinks = sink.sinks.copy(appendFacts = b => {
      val orphans = b.select("station_no").as[String].collect().filterNot(sink.dims.contains)
      if (orphans.nonEmpty)
        throw new IllegalStateException(s"facts for unknown stations: ${orphans.mkString(", ")}")
      sink.sinks.appendFacts(b)
    })
    val r = EtlJob.runOnce(spark, () => Seq(record("s1"), record("s2")).toDS(), fkSinks)
    assert(r === EtlJob.BatchResult(2, 2))
    assert(sink.facts.map(_._1).sorted === Seq("s1", "s2"))
  }

  test("runOnce: a warm tick runs at most 6 Spark jobs with in-memory sinks") {
    val sink = new MemSink
    EtlJob.runOnce(spark, () => Seq(record("s1"), record("s2")).toDS(), sink.sinks)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      // s1 known, s3 new, one replayed fact: every pass of the tick runs
      val r = EtlJob.runOnce(spark, () => Seq(record("s1", t = "2025-12-10 15:10:00"),
        record("s1", t = "2025-12-10 15:10:00"), record("s3")).toDS(), sink.sinks)
      assert(r === EtlJob.BatchResult(2, 1))
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // inference 1; new dims 3 (broadcast of the existing keys, dedup
    // shuffle map, result); facts 2 (dedup shuffle map, result). The
    // local dim frame the sink collects runs no job.
    assert(jobs.get <= 6, s"jobs in a warm tick: ${jobs.get}")
  }

  test("runOnce: a sink that never runs its facts frame fails the tick, in bounded time") {
    implicit val signaler: Signaler = ThreadSignaler
    val sink = new MemSink
    val e = failAfter(Span(30, Seconds)) {
      intercept[EtlJob.FactsNotWrittenException] {
        EtlJob.runOnce(spark, () => Seq(record("s1")).toDS(),
          sink.sinks.copy(appendFacts = _ => ()))
      }
    }
    assert(e.getMessage.contains("appendFacts"))
    assert(sink.facts.isEmpty)
  }

  test("runOnce: malformed Quantity is null (lenient cast), not a job failure") {
    val sink = new MemSink
    val r = EtlJob.runOnce(spark,
      () => Seq(record("s1", q = "\"N/A\"")).toDS(), sink.sinks)
    assert(r.factsAppended === 1)
  }
}
