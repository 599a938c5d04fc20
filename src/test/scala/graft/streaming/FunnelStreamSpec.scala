package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Pins [[FunnelStream.stageTimes]]'s semantics against the batch
  * funnel's, case by case: cross-trigger state continuation (the whole
  * point of the stateful form), strict-gate tie rejection, per-stage
  * window expiry, within-trigger iterator-order independence, and the
  * all-users denominator — then the full frame against
  * [[graft.ops.Funnel.funnel]] on the identical replayed data. */
class FunnelStreamSpec extends SparkSpec {
  import MicroBatchIngestSpec.Ev
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val stages = Seq("click", "view", "purchase")

  /** Drive two micro-batches through stageTimes and return the FINAL
    * per-user anchor arrays (min over non-null emissions — the set-once
    * monotonicity the operator documents). */
  private def run(batch1: Seq[Ev], batch2: Seq[Ev]): Map[Long, Seq[Long]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val emits = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    val q = FunnelStream
      .stageTimes(input.toDF(), "user_id", "ts", "event_type", stages,
        windowHours = 24)
      .toDF("user", "t")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-funnel-ckpt").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        emits.synchronized {
          emits ++= b.select("user", "t").as[(Long, Seq[Long])].collect()
        }
        ()
      }
      .start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    if (batch2.nonEmpty) {
      input.addData(batch2: _*)
      q.processAllAvailable()
    }
    q.stop()
    emits.groupBy(_._1).map { case (u, es) =>
      // set-once fields: the max snapshot per slot IS the final state
      u -> es.map(_._2).transpose.map(_.max).toSeq
    }
  }

  test("cross-trigger continuation: click in batch 1 converts on a batch-2 view") {
    val out = run(
      Seq(Ev(1L, ts("2024-03-01 08:00:00"), "click")),
      Seq(Ev(1L, ts("2024-03-01 20:00:00"), "view"),
        Ev(1L, ts("2024-03-02 10:00:00"), "purchase")))
    val t = out(1L)
    assert(t(0) > 0L && t(1) > 0L && t(2) > 0L,
      s"full conversion across triggers expected, got $t")
    assert(t(1) - t(0) === 12L * 3600 * 1000000) // view 12 h after click
  }

  test("strict gates: a view tying the click timestamp is rejected (batch >)") {
    val out = run(
      Seq(Ev(2L, ts("2024-03-01 08:00:00"), "click"),
        Ev(2L, ts("2024-03-01 08:00:00"), "view"), // tie — not counted
        Ev(2L, ts("2024-03-01 09:00:00"), "view")), // this one anchors
      Nil)
    val t = out(2L)
    assert(t(1) - t(0) === 3600L * 1000000)
  }

  test("window expiry: a view past click+24h never anchors") {
    val out = run(
      Seq(Ev(3L, ts("2024-03-01 08:00:00"), "click")),
      Seq(Ev(3L, ts("2024-03-02 08:00:01"), "view"))) // 24h + 1s
    val t = out(3L)
    assert(t(0) > 0L && t(1) === 0L, s"expired view must not anchor: $t")
  }

  test("within-trigger iterator order is irrelevant: first-touch = min click") {
    val out = run(
      Seq( // deliberately reverse-time order inside the batch
        Ev(4L, ts("2024-03-01 12:00:00"), "click"),
        Ev(4L, ts("2024-03-01 08:00:00"), "click"),
        Ev(4L, ts("2024-03-01 10:00:00"), "view")),
      Nil)
    val t = out(4L)
    assert(t(0) === ts("2024-03-01 08:00:00").getTime * 1000)
    assert(t(1) === ts("2024-03-01 10:00:00").getTime * 1000)
  }

  test("non-stage users still emit (the funnel denominator) and stay all-zero") {
    val out = run(Seq(Ev(5L, ts("2024-03-01 08:00:00"), "signup")), Nil)
    assert(out(5L) === Seq(0L, 0L, 0L))
  }

  test("checkpoint RESTART restores the per-user anchor state: a click " +
    "buffered before the kill converts on a post-restart view (st13's " +
    "failure/restart contract)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st13-restart").toString
    // foreachBatch collector, not a memory sink: the memory sink does
    // not support checkpoint RECOVERY (ResolveWriteToStream rejects it)
    val emits = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    def start() = FunnelStream
      .stageTimes(input.toDF(), "user_id", "ts", "event_type", stages,
        windowHours = 24)
      .toDF("user", "t")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        emits.synchronized {
          emits ++= b.select("user", "t").as[(Long, Seq[Long])].collect()
        }
        ()
      }
      .start()
    val q1 = start()
    input.addData(Ev(7L, ts("2024-03-01 08:00:00"), "click"))
    q1.processAllAvailable()
    q1.stop() // kill with the anchor held only in the state store
    val q2 = start() // fresh query instance from the same checkpoint
    // day-1 offsets are committed, so the conversion below can only
    // come from RESTORED state — a lost anchor would leave t2/t3 zero
    input.addData(Ev(7L, ts("2024-03-01 12:00:00"), "view"),
      Ev(7L, ts("2024-03-01 13:00:00"), "purchase"))
    q2.processAllAvailable()
    q2.stop()
    val fin = emits.synchronized {
      emits.filter(_._1 == 7L).map(_._2).transpose.map(_.max).toSeq
    }
    assert(fin.forall(_ > 0L), s"full conversion across the restart, got $fin")
    assert(fin(1) - fin(0) === 4L * 3600 * 1000000)
    assert(fin(2) - fin(1) === 1L * 3600 * 1000000)
    graft.LocalRun.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  test("stageTimes FAILS FAST when a later trigger delivers an EARLIER " +
    "event (cross-trigger order contract, r12 ADVICE — silent " +
    "mis-anchoring becomes a detectable violation)") {
    val e = intercept[Exception] {
      run(
        Seq(Ev(30L, ts("2024-03-01 12:00:00"), "view")),
        Seq(Ev(30L, ts("2024-03-01 08:00:00"), "click"))) // out of order
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("input-order contract violated"),
      s"expected the contract violation in the failure chain, got:\n$msgs")
  }

  /** Drive micro-batches through stageTimesBuffered (one
    * processAllAvailable per batch so each is a real trigger and the
    * watermark advances between them) and return final per-user anchor
    * arrays — same max-per-slot recovery as [[run]]. */
  private def runBuffered(batches: Seq[Seq[Ev]],
                          delay: String): Map[Long, Seq[Long]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val emits = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    val q = FunnelStream
      .stageTimesBuffered(input.toDF(), "user_id", "ts", "event_type",
        stages, windowHours = 24, delayThreshold = delay)
      .toDF("user", "t")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-funnelbuf-ckpt").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        emits.synchronized {
          emits ++= b.select("user", "t").as[(Long, Seq[Long])].collect()
        }
        ()
      }
      .start()
    batches.foreach { b =>
      input.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    emits.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._2).transpose.map(_.max).toSeq
    }
  }

  // watermark-advancing tail: one far-future event from a throwaway
  // user pushes the watermark past every real event (ts - 10 days >
  // all of March), and a second one triggers the batch in which the
  // event-time timeouts then fire and flush the matured buffers
  private val wmTail = Seq(
    Seq(Ev(999L, ts("2024-06-01 00:00:00"), "noise")),
    Seq(Ev(998L, ts("2024-06-02 00:00:00"), "noise")))

  test("stageTimesBuffered: a LATE cross-trigger event (within the " +
    "watermark) lands correctly — the click arrives a TRIGGER AFTER " +
    "the view it must precede, and still anchors first (r12 verdict " +
    "ask #4: the production out-of-order generalization)") {
    val out = runBuffered(
      Seq(
        Seq(Ev(21L, ts("2024-03-01 12:00:00"), "view")),
        Seq(Ev(21L, ts("2024-03-01 08:00:00"), "click")) // late, in horizon
      ) ++ wmTail,
      delay = "10 days")
    val t = out(21L)
    assert(t(0) === ts("2024-03-01 08:00:00").getTime * 1000,
      s"late click must anchor stage 0, got $t")
    assert(t(1) === ts("2024-03-01 12:00:00").getTime * 1000,
      s"view must convert AFTER the late click folds in, got $t")
  }

  test("stageTimesBuffered: buffers flush on event-time TIMEOUT — " +
    "anchors converge when the watermark passes, with NO further " +
    "events from that user") {
    val out = runBuffered(
      Seq(Seq(
        Ev(22L, ts("2024-03-01 08:00:00"), "click"),
        Ev(22L, ts("2024-03-01 09:00:00"), "view"),
        Ev(22L, ts("2024-03-01 10:00:00"), "purchase"))) ++ wmTail,
      delay = "10 days")
    val t = out(22L)
    assert(t.forall(_ > 0L), s"full conversion via timeout flush, got $t")
    assert(t(2) - t(0) === 2L * 3600 * 1000000)
  }

  test("stageTimesBuffered anchors ≡ batch funnel on a replay delivered " +
    "in REVERSED time order across triggers") {
    val evs = Seq(
      Ev(10L, ts("2024-03-01 08:00:00"), "click"),
      Ev(10L, ts("2024-03-01 09:00:00"), "view"),
      Ev(10L, ts("2024-03-01 10:00:00"), "purchase"),
      Ev(11L, ts("2024-03-01 08:00:00"), "click"),
      Ev(11L, ts("2024-03-03 09:00:00"), "view"), // out of window
      Ev(12L, ts("2024-03-01 08:00:00"), "view"), // view before any click
      Ev(12L, ts("2024-03-01 09:00:00"), "click"),
      Ev(13L, ts("2024-03-01 07:00:00"), "signup"))
    // NEWEST events first across triggers — the order stageTimes would
    // reject outright (and mis-anchor if unchecked)
    val (b1, b2) = evs.sortBy(-_.ts.getTime).splitAt(4)
    val out0 = runBuffered(Seq(b1, b2) ++ wmTail, delay = "10 days")
    val out = out0 -- Seq(998L, 999L) // drop the watermark-tail users
    val batch = graft.ops.Funnel.funnel(
      evs.toDF(), "user_id", "ts", "event_type", stages, windowHours = 24)
      .head()
    assert(out.size.toLong === batch.getLong(batch.fieldIndex("n_users")))
    assert(out.values.count(_(0) > 0).toLong ===
      batch.getLong(batch.fieldIndex("n_click")))
    assert(out.values.count(_(1) > 0).toLong ===
      batch.getLong(batch.fieldIndex("n_view_after_click")))
    assert(out.values.count(_(2) > 0).toLong ===
      batch.getLong(batch.fieldIndex("n_purchase_after_view")))
  }

  test("stream anchors ≡ batch funnel counts on a mixed replay") {
    val evs = Seq(
      Ev(10L, ts("2024-03-01 08:00:00"), "click"),
      Ev(10L, ts("2024-03-01 09:00:00"), "view"),
      Ev(10L, ts("2024-03-01 10:00:00"), "purchase"),
      Ev(11L, ts("2024-03-01 08:00:00"), "click"),
      Ev(11L, ts("2024-03-03 09:00:00"), "view"), // out of window
      Ev(12L, ts("2024-03-01 08:00:00"), "view"), // view before any click
      Ev(12L, ts("2024-03-01 09:00:00"), "click"),
      Ev(13L, ts("2024-03-01 07:00:00"), "signup"))
    val (b1, b2) = evs.sortBy(_.ts.getTime).splitAt(4)
    val out = run(b1, b2)
    val nUsers = out.size.toLong
    val nClick = out.values.count(_(0) > 0).toLong
    val nView = out.values.count(_(1) > 0).toLong
    val nPurchase = out.values.count(_(2) > 0).toLong

    val batch = graft.ops.Funnel.funnel(
      evs.toDF(), "user_id", "ts", "event_type", stages, windowHours = 24)
      .head()
    assert(nUsers === batch.getLong(batch.fieldIndex("n_users")))
    assert(nClick === batch.getLong(batch.fieldIndex("n_click")))
    assert(nView === batch.getLong(batch.fieldIndex("n_view_after_click")))
    assert(nPurchase ===
      batch.getLong(batch.fieldIndex("n_purchase_after_view")))
  }
}
