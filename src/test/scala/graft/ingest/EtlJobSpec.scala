package graft.ingest

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types.{IntegerType, StructType}
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
    // a batch of fieldless records is missing every key, not empty
    val e = intercept[IngestBatch.MissingColumnsException] {
      EtlJob.runOnce(spark, () => Seq("{}", "{}").toDS(), sink.sinks, backoffMs = 1)
    }
    assert(e.missing === IngestBatch.RequiredSnapshot)
    assert(sink.facts.isEmpty && sink.dims.isEmpty)
  }

  test("runOnce: a key no record holds raises with every such key; a key null in every record passes") {
    val sink = new MemSink
    val absent = record("s1").replace(""","Quantity":30""", "")
      .replace(""","available_return_bikes":25""", "")
    val e = intercept[IngestBatch.MissingColumnsException] {
      EtlJob.runOnce(spark, () => Seq(absent, absent.replace("s1", "s2")).toDS(), sink.sinks)
    }
    assert(e.missing === Seq("Quantity", "available_return_bikes"))
    assert(sink.facts.isEmpty && sink.dims.isEmpty)
    // held by one record only: present in the batch, so the batch loads
    val r1 = EtlJob.runOnce(spark, () => Seq(absent, record("s2")).toDS(), sink.sinks)
    assert(r1 === EtlJob.BatchResult(2, 2))
    // present in every record, null in every record: loads as nulls
    val r2 = EtlJob.runOnce(spark, () => Seq(record("s3", q = "null")).toDS(), sink.sinks)
    assert(r2 === EtlJob.BatchResult(1, 1))
  }

  test("runOnce: a malformed JSON line is dropped and the rest of its batch loads") {
    val sink = new MemSink
    val r = EtlJob.runOnce(spark,
      () => Seq(record("s1"), """{"sno":"s2","sna":""", "not json", record("s3")).toDS(),
      sink.sinks)
    assert(r === EtlJob.BatchResult(2, 2))
    assert(sink.dims.sorted === Seq("s1", "s3"))
    assert(sink.facts.map(_._1).sorted === Seq("s1", "s3"))
  }

  test("runOnce: the dim schema does not depend on the batch's Quantity values") {
    val schemas = scala.collection.mutable.ArrayBuffer[StructType]()
    val sink = new MemSink
    val sinks = sink.sinks.copy(insertDims = b => { schemas += b.schema; sink.sinks.insertDims(b) })
    // all integers, then one malformed string: inference would type the
    // field long in the first tick and string in the second
    EtlJob.runOnce(spark, () => Seq(record("s1"), record("s2", q = "28")).toDS(), sinks)
    EtlJob.runOnce(spark, () => Seq(record("s3"), record("s4", q = "\"N/A\"")).toDS(), sinks)
    assert(schemas.size === 2 && schemas(0) === schemas(1))
    assert(schemas(0)("total_spaces").dataType === IntegerType)
  }

  test("runOnce: a fractional lenient int is null, as a number or as a string") {
    val sink = new MemSink
    val spaces = scala.collection.mutable.Map[String, Option[Int]]()
    val sinks = sink.sinks.copy(insertDims = b => {
      spaces ++= b.select("station_no", "total_spaces").as[(String, Option[Int])].collect()
      sink.sinks.insertDims(b)
    })
    EtlJob.runOnce(spark, () => Seq(record("s1", q = "28.5"), record("s2", q = "\"28.5\""),
      record("s3", q = "28.0"), record("s4", q = "28"), record("s5", q = "\" 28 \"")).toDS(), sinks)
    // alone in their batch, a fractional number and a fractional string
    // agree too: the result does not depend on the rest of the batch
    EtlJob.runOnce(spark, () => Seq(record("s6", q = "28.5")).toDS(), sinks)
    EtlJob.runOnce(spark, () => Seq(record("s7", q = "\"28.5\"")).toDS(), sinks)
    assert(spaces.toMap === Map("s1" -> None, "s2" -> None, "s3" -> None,
      "s4" -> Some(28), "s5" -> Some(28), "s6" -> None, "s7" -> None))
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

  /** Spark jobs started while `body` runs, after a drained bus. */
  private def jobsIn(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  // s1 known, s3 new, one replayed fact: every pass of the tick runs
  private val warmTick = () => Seq(record("s1", t = "2025-12-10 15:10:00"),
    record("s1", t = "2025-12-10 15:10:00"), record("s3")).toDS()

  test("runOnce: a warm tick runs exactly 4 Spark jobs with in-memory sinks") {
    val sink = new MemSink
    EtlJob.runOnce(spark, () => Seq(record("s1"), record("s2")).toDS(), sink.sinks)
    val jobs = jobsIn {
      assert(EtlJob.runOnce(spark, warmTick, sink.sinks) === EtlJob.BatchResult(2, 1))
    }
    // dims collect 1 (batch dims with the existing keys); the sink's
    // collect of the one-partition dim frame 1; facts 2 (dedup shuffle
    // map, result)
    assert(jobs === 4, s"jobs in a warm tick: $jobs")
  }

  test("runOnce: a warm tick runs exactly 5 Spark jobs with parquet sinks, one dim file per append") {
    val dir = Files.createTempDirectory("graft-etl-sinks")
    try {
      val facts = dir.resolve("station_status").toString
      val dims = dir.resolve("station_info").toString
      val sinks = EtlJob.Sinks(
        appendFacts = _.write.mode("append").parquet(facts),
        insertDims = _.write.mode("append").parquet(dims),
        existingDimKeys = () =>
          if (Files.exists(Paths.get(dims))) spark.read.parquet(dims)
          else Seq.empty[String].toDF("station_no"))
      EtlJob.runOnce(spark, () => Seq(record("s1"), record("s2")).toDS(), sinks)
      val jobs = jobsIn {
        assert(EtlJob.runOnce(spark, warmTick, sinks) === EtlJob.BatchResult(2, 1))
      }
      // the footer read 1; dims collect 1; dims write 1; facts write 2
      // (dedup shuffle map, write)
      assert(jobs === 5, s"jobs in a warm tick: $jobs")
      val dimFiles = Files.list(Paths.get(dims)).toArray
        .map(_.toString).filter(_.endsWith(".parquet"))
      assert(dimFiles.length === 2, dimFiles.mkString(", "))
      assert(spark.read.parquet(dims).select("station_no").as[String].collect().sorted.toSeq ===
        Seq("s1", "s2", "s3"))
    } finally graft.LocalRun.deleteRecursively(dir)
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
