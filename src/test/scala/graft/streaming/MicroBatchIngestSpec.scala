package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ingest.EtlJob

/** Deterministic batch-equivalence test for the §2.9 streaming ingest
  * (VERDICT r1 #9): feed replayed micro-batches through the
  * watermarked dedup + foreachBatch upsert and assert the result
  * equals the batch-mode semantics (DISTINCT on the unique key;
  * insert-only dims). */
class MicroBatchIngestSpec extends SparkSpec {
  import MicroBatchIngestSpec.{Ev, Fact}
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked dedup drops within-batch and cross-batch replays (S8 streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Fact]
    val collected = scala.collection.mutable.ArrayBuffer[(String, Timestamp)]()
    val dimLog = scala.collection.mutable.ArrayBuffer[String]()
    var existing = Seq("s1") // s1 dim already known
    var dimWrites = 0 // insertDims calls

    val q = MicroBatchIngest.writer(
      input.toDF(),
      // the station registry (the reference's station-info source), with
      // a repeated row: the upsert keeps the first row per key
      dims = _ => Seq("s1", "s2", "s2").toDF("station_no"),
      sinks = EtlJob.Sinks(
        appendFacts = b => collected.synchronized {
          val rows = b.select("station_no", "record_time").as[(String, Timestamp)].collect()
          // station_status.station_no references station_info: the
          // batch's new dims must already be upserted
          val orphans = rows.map(_._1).filterNot(dimLog.synchronized(existing).contains)
          assert(orphans.isEmpty, s"facts for unknown stations: ${orphans.mkString(", ")}")
          collected ++= rows
        },
        insertDims = b => dimLog.synchronized {
          dimWrites += 1
          // the new dims come as one local partition: one file per append
          assert(b.rdd.getNumPartitions === 1)
          val ids = b.select("station_no").as[String].collect()
          dimLog ++= ids
          existing = existing ++ ids
        },
        existingDimKeys = () => dimLog.synchronized(existing).toDF("station_no")),
      triggerInterval = "0 seconds")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString)
      .start()

    // batch 1: one replay inside the batch
    input.addData(
      Fact("s1", ts("2024-03-01 08:00:00"), 5),
      Fact("s1", ts("2024-03-01 08:00:00"), 5), // dup (same unique key)
      Fact("s2", ts("2024-03-01 08:00:00"), 7))
    q.processAllAvailable()
    // batch 2: replay of batch 1's key within the watermark + a new key
    input.addData(
      Fact("s1", ts("2024-03-01 08:00:00"), 5), // cross-batch dup
      Fact("s2", ts("2024-03-01 08:10:00"), 8))
    q.processAllAvailable()
    q.stop()

    // batch-mode reference: DISTINCT over the union on the unique key
    val expected = Set(
      ("s1", ts("2024-03-01 08:00:00")),
      ("s2", ts("2024-03-01 08:00:00")),
      ("s2", ts("2024-03-01 08:10:00")))
    assert(collected.toSet === expected, s"got ${collected.toSet}")
    // dim upsert: s1 pre-existing → only s2 ever inserted, exactly once
    assert(dimLog.toSeq === Seq("s2"), s"dims inserted: $dimLog")
    // no later micro-batch (batch 2, or a no-data batch that moves the
    // watermark) has a new dim, so the sink never gets an empty frame
    assert(dimWrites === 1, s"insertDims ran $dimWrites times")
  }

  test("hourlyWindowStats: tumbling event-time windows equal the batch hourly rollup") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Fact]
    val agg = MicroBatchIngest.hourlyWindowStats(
      input.toDF().withColumnRenamed("bikes", "bikes_available"))
    val q = agg.writeStream.format("memory").queryName("st2_spec")
      .outputMode("complete").trigger(Trigger.ProcessingTime("0 seconds")).start()
    input.addData(
      Fact("s1", ts("2024-03-01 08:05:00"), 4),
      Fact("s1", ts("2024-03-01 08:55:00"), 6),
      Fact("s2", ts("2024-03-01 08:10:00"), 10))
    q.processAllAvailable()
    input.addData(
      Fact("s1", ts("2024-03-01 09:05:00"), 8), // next window
      Fact("s1", ts("2024-03-01 08:59:00"), 0)) // cross-batch, same window
    q.processAllAvailable()
    q.stop()
    val got = spark.table("st2_spec")
      .select($"window.start".cast("string"), $"station_no", $"n", $"avg_bikes")
      .as[(String, String, Long, Double)].collect().toSet
    val expected = Set(
      ("2024-03-01 08:00:00", "s1", 3L, 10.0 / 3),
      ("2024-03-01 08:00:00", "s2", 1L, 10.0),
      ("2024-03-01 09:00:00", "s1", 1L, 8.0))
    assert(got === expected, s"got $got")
  }

  test("hourlyStreamJoin: two unbounded sides join on the hourly window " +
    "across batches; a reading arriving PAST the watermark is dropped") {
    import MicroBatchIngestSpec.Reading
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[Fact]
    val readings = MemoryStream[Reading]
    val joined = MicroBatchIngest.hourlyStreamJoin(facts.toDF(), readings.toDF())
      .select(col("hour_window.start").as("w"), col("station_no"),
        col("temperature"))
    val q = joined.writeStream.format("memory").queryName("st4_spec")
      .outputMode("append").trigger(Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-st4-ckpt").toString)
      .start()
    // batch 1: facts in hours 05, 08, 09; one reading in hour 08.
    // max event time 09:50 / 08:30 -> global watermark after the batch
    // is 07:30 (min across inputs, 1h horizon): hour-05 state evicted
    facts.addData(
      Fact("s0", ts("2024-03-01 05:30:00"), 2),
      Fact("s1", ts("2024-03-01 08:10:00"), 5),
      Fact("s2", ts("2024-03-01 08:40:00"), 7),
      Fact("s3", ts("2024-03-01 09:50:00"), 9))
    readings.addData(Reading(ts("2024-03-01 08:30:00"), 21.5))
    q.processAllAvailable()
    // batch 2: an in-watermark reading for hour 09 (must join batch 1's
    // buffered s3 fact — the cross-batch case) and a LATE reading for
    // hour 05, behind the watermark (must produce NO pair with s0)
    readings.addData(
      Reading(ts("2024-03-01 09:15:00"), 23.0),
      Reading(ts("2024-03-01 05:00:00"), 11.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("st4_spec")
      .as[(Timestamp, String, Double)].collect().toSet
    val expected = Set(
      (ts("2024-03-01 08:00:00"), "s1", 21.5),
      (ts("2024-03-01 08:00:00"), "s2", 21.5),
      (ts("2024-03-01 09:00:00"), "s3", 23.0)) // joined ACROSS batches
    assert(got === expected, s"got $got") // no (05:00, s0, 11.0): late drop
  }

  test("hourlyStreamJoin: checkpoint RESTART replays buffered join state " +
    "and the watermark — the cross-batch pair completes after the restart " +
    "and a late reading still drops (r8 verdict ask #2)") {
    import MicroBatchIngestSpec.Reading
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[Fact]
    val readings = MemoryStream[Reading]
    val joined = MicroBatchIngest.hourlyStreamJoin(facts.toDF(), readings.toDF())
      .select(col("hour_window.start").as("w"), col("station_no"),
        col("temperature"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-st4-restart").toString
    // foreachBatch collector: unlike the memory sink, it survives the
    // query instance, so phase-1 and phase-2 output accumulate together
    val sink = scala.collection.mutable.ArrayBuffer[(Timestamp, String, Double)]()
    def start() = joined.writeStream
      .outputMode("append").trigger(Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("w", "station_no", "temperature")
          .as[(Timestamp, String, Double)].collect()
        sink.synchronized { sink ++= rows }
        ()
      }
      .start()
    // phase 1 (same fixture as the cross-batch case): s3's hour-09 fact
    // finds no reading yet — it lives ONLY in the join state store when
    // the query stops. Watermark after the batch: 07:30.
    val q1 = start()
    facts.addData(
      Fact("s0", ts("2024-03-01 05:30:00"), 2),
      Fact("s1", ts("2024-03-01 08:10:00"), 5),
      Fact("s2", ts("2024-03-01 08:40:00"), 7),
      Fact("s3", ts("2024-03-01 09:50:00"), 9))
    readings.addData(Reading(ts("2024-03-01 08:30:00"), 21.5))
    q1.processAllAvailable()
    q1.stop()
    assert(sink.synchronized(sink.toSet) === Set(
      (ts("2024-03-01 08:00:00"), "s1", 21.5),
      (ts("2024-03-01 08:00:00"), "s2", 21.5)), "phase 1 (pre-restart)")
    // phase 2: a FRESH query from the same checkpoint. The hour-09
    // reading must pair with s3's fact out of the RESTORED state store,
    // and the hour-05 reading must still drop against the RESTORED
    // watermark — neither fact is re-addable (offsets are committed).
    val q2 = start()
    readings.addData(
      Reading(ts("2024-03-01 09:15:00"), 23.0),
      Reading(ts("2024-03-01 05:00:00"), 11.0))
    q2.processAllAvailable()
    q2.stop()
    assert(sink.synchronized(sink.toSet) === Set(
      (ts("2024-03-01 08:00:00"), "s1", 21.5),
      (ts("2024-03-01 08:00:00"), "s2", 21.5),
      (ts("2024-03-01 09:00:00"), "s3", 23.0)), // restored-state pair
      "after restart") // and STILL no (05:00, s0, 11.0) late pair
  }

  test("runningCounts: GroupState accumulates across micro-batches (emit-per-batch totals)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Fact]
    val counted = MicroBatchIngest.runningCounts(input.toDF())
      .toDF("station_no", "n_cum")
    val q = counted.writeStream.format("memory").queryName("st3_spec")
      .outputMode("append").trigger(Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-st3-ckpt").toString)
      .start()
    input.addData(
      Fact("s1", ts("2024-03-01 08:00:00"), 1),
      Fact("s1", ts("2024-03-01 08:01:00"), 2),
      Fact("s2", ts("2024-03-01 08:02:00"), 3))
    q.processAllAvailable()
    input.addData(Fact("s1", ts("2024-03-01 09:00:00"), 4))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("st3_spec")
      .as[(String, Long)].collect().toSeq
    // batch 1 emits the within-batch totals; batch 2 re-emits s1 with
    // the CARRIED total 2+1=3 — the state survived the batch boundary
    assert(rows.count(_ == ("s1", 2L)) === 1, s"rows: $rows")
    assert(rows.count(_ == ("s2", 1L)) === 1, s"rows: $rows")
    assert(rows.count(_ == ("s1", 3L)) === 1, s"rows: $rows")
    // final per-key max == batch-mode group counts
    val finalCounts = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(finalCounts === Map("s1" -> 3L, "s2" -> 1L))
  }

  test("session_window: a cross-trigger session merges state across micro-" +
    "batches and append-emits only after the watermark passes its end " +
    "(the st10 contract)") {
    import org.apache.spark.sql.functions.{col, count, lit, session_window}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = input.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.format("memory").queryName("st10_spec")
      .outputMode("append").trigger(Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-st10-ckpt").toString)
      .start()
    // trigger 1: two events, 1 h apart — one open session
    input.addData(
      Ev(1L, ts("2024-03-01 10:00:00"), "click"),
      Ev(1L, ts("2024-03-01 11:00:00"), "view"))
    q.processAllAvailable()
    assert(spark.table("st10_spec").isEmpty,
      "no session may close while the watermark is behind its end")
    // trigger 2: an event 1 h after the last — MERGES into the open
    // session (the cross-trigger state merge), still unemitted
    input.addData(Ev(1L, ts("2024-03-01 12:00:00"), "purchase"))
    q.processAllAvailable()
    assert(spark.table("st10_spec").isEmpty,
      "the merged session is still open: watermark 11:00 < end 18:00")
    // trigger 3: a far-future sentinel advances the watermark past the
    // session end — ONLY NOW does the session emit, once, merged
    input.addData(Ev(99L, ts("2024-04-01 00:00:00"), "flush"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("st10_spec").filter(col("user_id") === 1L)
      .select(col("session_window.start"), col("session_window.end"),
        col("n_events"))
      .as[(Timestamp, Timestamp, Long)].collect().toSeq
    assert(rows === Seq((ts("2024-03-01 10:00:00"),
      ts("2024-03-01 18:00:00"), 3L)),
      s"expected ONE merged session [10:00, 12:00+6h) with 3 events, got $rows")
  }

  test("session_window state survives checkpoint RESTART: an OPEN session " +
    "restored from the state store merges a post-restart trigger's events " +
    "and closes as ONE session (the st10 restart contract)") {
    import org.apache.spark.sql.functions.{col, count, lit, session_window}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = input.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-st10-restart").toString
    // foreachBatch collector, not a memory sink: the memory sink does
    // not support checkpoint RECOVERY (ResolveWriteToStream rejects it)
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Timestamp, Timestamp, Long)]()
    def start() = agg.writeStream
      .outputMode("append").trigger(Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        emitted.synchronized {
          emitted ++= b.select(col("user_id"), col("session_window.start"),
              col("session_window.end"), col("n_events"))
            .as[(Long, Timestamp, Timestamp, Long)].collect()
        }
        ()
      }
      .start()
    val q1 = start()
    input.addData(Ev(1L, ts("2024-03-01 10:00:00"), "click"),
      Ev(1L, ts("2024-03-01 11:00:00"), "view"))
    q1.processAllAvailable()
    q1.stop() // kill with the session OPEN in the state store
    val q2 = start() // fresh query instance from the same checkpoint
    // merges into the RESTORED open session (gap 1 h < 6 h); day-1 rows
    // are not re-addable — their offsets are committed, so the merge can
    // only come from restored state
    input.addData(Ev(1L, ts("2024-03-01 12:00:00"), "purchase"))
    q2.processAllAvailable()
    input.addData(Ev(99L, ts("2024-04-01 00:00:00"), "flush"))
    q2.processAllAvailable()
    q2.stop()
    val rows = emitted.synchronized {
      emitted.filter(_._1 == 1L).map(r => (r._2, r._3, r._4)).toSeq
    }
    assert(rows === Seq((ts("2024-03-01 10:00:00"),
      ts("2024-03-01 18:00:00"), 3L)),
      s"the restored session must merge post-restart events and close once, got $rows")
    graft.LocalRun.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  test("sketch-state streaming aggregation: checkpoint RESTART restores the " +
    "per-group KMV and sample state — post-restart sketches equal the batch " +
    "sketch over EVERYTHING (the st8/st9 state-store contract)") {
    import MicroBatchIngestSpec.SkRow
    import org.apache.spark.sql.functions.col
    import graft.ops.Sketches
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SkRow]
    val agg = input.toDF().groupBy("grp")
      .agg(Sketches.kmvSketch(col("h"), 4).as("kmv"),
        Sketches.sampleSketch(col("h"), col("v"), 4).as("smp"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-st8-restart").toString
    // complete mode: each batch emits the whole table; keep the LATEST
    @volatile var latest: Map[String, (Seq[Long], Seq[Long])] = Map.empty
    def start() = agg.writeStream
      .outputMode("complete").trigger(Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val snap = b.select("grp", "kmv", "smp")
          .as[(String, Seq[Long], Seq[Long])].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        if (snap.nonEmpty) latest = snap
        ()
      }
      .start()
    // phase 1: group a saturates k=4, group b stays below
    val day1 = Seq(SkRow("a", 50L, 500L), SkRow("a", 20L, 200L),
      SkRow("a", 70L, 700L), SkRow("a", 40L, 400L), SkRow("a", 90L, 900L),
      SkRow("b", 5L, 55L))
    val q1 = start()
    input.addData(day1: _*)
    q1.processAllAvailable()
    q1.stop()
    assert(latest("a")._1 === Seq(20L, 40L, 50L, 70L), "phase-1 kmv")
    // phase 2: FRESH query from the checkpoint; new minima must displace
    // inside the RESTORED buffers (day-1 rows are not re-addable — their
    // offsets are committed)
    val day2 = Seq(SkRow("a", 10L, 100L), SkRow("a", 60L, 600L),
      SkRow("b", 3L, 33L))
    val q2 = start()
    input.addData(day2: _*)
    q2.processAllAvailable()
    q2.stop()
    val all = day1 ++ day2
    def batchRef(g: String) = all.filter(_.grp == g).map(_.h).distinct.sorted.take(4)
    def batchSmp(g: String) =
      all.filter(_.grp == g).sortBy(_.h).take(4).map(_.v)
    for (g <- Seq("a", "b")) {
      assert(latest(g)._1 === batchRef(g), s"post-restart kmv($g)")
      assert(latest(g)._2 === batchSmp(g), s"post-restart sample($g)")
    }
    graft.LocalRun.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  // ---- st7 restart atomicity (r9 verdict "What's missing" #1) ------
  //
  // The streaming exact-substring dedup's foreachBatch has two
  // effects — emit cleaned text, advance the gram table — and a crash
  // can land in either window between/after them. SubstrDedupStream
  // keys both effects by the checkpointed batchId (versioned table
  // snapshots + batch-keyed overwrite emits), so a replay CONVERGES.
  // Both windows are killed and restarted here, against the same
  // cross-batch fixture shape as st7 (a day-2 span duplicated only
  // via day 1's table advance).

  private def runSubstrStream(input: MemoryStream[MicroBatchIngestSpec.Doc],
                              tableDir: String, outDir: String, ckpt: String,
                              poison: Long => Boolean): Unit = {
    val q = input.toDF().writeStream
      .outputMode("append").trigger(Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        SubstrDedupStream.emit(spark, tableDir, outDir, b, id,
          "doc_id", "text", k = 3)
        if (poison(id))
          throw new RuntimeException(s"poison: crash between emit and advance of batch $id")
        SubstrDedupStream.advance(spark, tableDir, b, id, "doc_id", "text", k = 3)
        if (poison(-id - 1))
          throw new RuntimeException(s"poison: crash after advance of batch $id")
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // a poisoned batch fails the query; surface it like the engine does
    q.exception.foreach(e => throw e)
  }

  private def substrFixture() = {
    val corpus = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val day1 = MicroBatchIngestSpec.Doc(1L, "a b c x y")  // "a b c" dups the corpus
    val day2 = MicroBatchIngestSpec.Doc(2L, "c x y z w")  // "c x y" dups ONLY day 1
    (corpus, day1, day2)
  }

  private def assertSubstrConverged(tableDir: String, outDir: String,
                                    corpus: DataFrame): Unit = {
    import graft.llm.Dedup
    import org.apache.spark.sql.functions.col
    // cleaned output: one row per doc (replays overwrote, never
    // appended), spans removed with day 2's dup evidenced only by
    // day 1's advance
    val cleaned = spark.read.parquet(outDir)
      .select("doc_id", "n_tokens", "n_removed_tokens", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(cleaned === Seq((1L, 5L, 3L, "x y"), (2L, 5L, 3L, "z w")))
    // final table version == batch gram counts over corpus ∪ day1 ∪ day2
    val want = Dedup.gramCounts(
        corpus.unionByName(Seq((1L, "a b c x y"), (2L, "c x y z w"))
          .toDF("doc_id", "text")),
        "doc_id", "text", k = 3)
      .as[(String, Long)].collect().toSet
    val got = SubstrDedupStream.tableFor(spark, tableDir, 2L)
      .select(col("__gram"), col("__n")).as[(String, Long)].collect().toSet
    assert(got === want, "gram table after restart must equal the batch-over-union counts")
  }

  for ((window, poisonIds) <- Seq(
    ("between emit and advance", Set(1L)),
    ("after advance, before the engine commit", Set(-2L)))) {
    test(s"SubstrDedupStream: kill $window, restart from checkpoint — " +
      "replayed batch re-emits identical text and the table converges") {
      implicit val sqlCtx = spark.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft-st7-restart")
      val (tableDir, outDir, ckpt) = (root.resolve("table").toString,
        root.resolve("cleaned").toString, root.resolve("ckpt").toString)
      val (corpus, day1, day2) = substrFixture()
      SubstrDedupStream.initGramTable(tableDir, corpus, "doc_id", "text", k = 3)
      val input = MemoryStream[MicroBatchIngestSpec.Doc]
      @volatile var armed = true

      // phase 1: batch 0 completes; batch 1 crashes in the window
      input.addData(day1)
      runSubstrStream(input, tableDir, outDir, ckpt, _ => false)
      input.addData(day2)
      val boom = intercept[Exception] {
        runSubstrStream(input, tableDir, outDir, ckpt,
          id => armed && poisonIds(id))
      }
      assert(boom.getMessage != null)
      val v2 = java.nio.file.Files.exists(root.resolve("table/v2"))
      if (poisonIds(1L))
        assert(!v2, "crash between emit and advance must leave v2 unwritten")
      else
        assert(v2, "crash after advance must leave v2 written")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(outDir, "batch=1")),
        "the emit preceded the crash in both windows")

      // phase 2: fresh query, same checkpoint — batch 1 replays
      armed = false
      runSubstrStream(input, tableDir, outDir, ckpt, _ => false)
      assertSubstrConverged(tableDir, outDir, corpus)
      graft.LocalRun.deleteRecursively(root)
    }
  }
}

object MicroBatchIngestSpec {
  /** Top-level on purpose: nested in the suite class, Spark's encoder
    * codegen cannot invoke the accessors (Janino `No applicable
    * constructor/method found ... Fact.station_no()`) and silently
    * falls back to interpreted mode — noise that would mask a real
    * codegen regression, and a hard failure now that SparkSpec runs
    * CODEGEN_ONLY. */
  final case class Fact(station_no: String, record_time: Timestamp, bikes: Int)
  final case class Reading(obs_time: Timestamp, temperature: Double)
  final case class SkRow(grp: String, h: Long, v: Long)
  final case class Doc(doc_id: Long, text: String)
  final case class Ev(user_id: Long, ts: Timestamp, event_type: String)
}
