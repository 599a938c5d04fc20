package graft.streaming

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec

/** Pins [[BoundedStream]]'s contract: a staged replay delivers one day
  * per trigger in mod-time order, a failing foreachBatch body fails the
  * drain, and the drain's scratch root (staged days, checkpoint) is gone
  * once the stream ends, failed or not. */
class BoundedStreamSpec extends SparkSpec {
  import spark.implicits._

  /** Day `i` holds `i + 1` rows, each tagged `i`. */
  private def days(n: Int): Seq[DataFrame] =
    (0 until n).map(i => Seq.fill(i + 1)(i.toLong).toDF("day"))

  private def filesUnder(root: Path): Seq[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSeq

  test("N staged days arrive as N micro-batches, ids 0..N-1, in mod-time order") {
    val n = 3
    var root: Path = null
    val seen = ArrayBuffer[(Long, Seq[Long])]()
    var staged = Seq.empty[String]
    var mtimes = Seq.empty[Long]
    BoundedStream.foreachBatch { sc =>
      root = sc.root
      BoundedStream.arrivals(sc, days(n))
    } { (b, batchId) =>
      seen += batchId -> b.as[Long].collect().toSeq
      if (batchId == 0) {
        staged = filesUnder(root)
        mtimes = (1 to n).map(i =>
          Files.getLastModifiedTime(root.resolve(s"in/day$i.parquet")).toMillis)
      }
    }
    assert(mtimes === mtimes.sorted.distinct, "day files not in mod-time order")
    assert(seen.map(_._1) === (0L until n))
    seen.foreach { case (id, rows) =>
      assert(rows === Seq.fill(id.toInt + 1)(id), s"batch $id is not day ${id + 1}")
    }
    assert(staged.exists(_.startsWith("ckpt/")), staged)
    assert(!Files.exists(root), "scratch root left after the drain")
  }

  test("a failing foreachBatch body fails the drain and leaves no scratch") {
    var root: Path = null
    val staged = ArrayBuffer[String]()
    // the stream logs the failure it rethrows, stack trace included
    val streamLog = "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution"
    val level = LogManager.getLogger(streamLog).getLevel
    Configurator.setLevel(streamLog, org.apache.logging.log4j.Level.OFF)
    val e = try intercept[StreamingQueryException] {
      BoundedStream.foreachBatch { sc =>
        root = sc.root
        BoundedStream.arrivals(sc, days(3))
      } { (_, batchId) =>
        staged ++= filesUnder(root)
        if (batchId == 1) throw new IllegalStateException("boom on batch 1")
      }
    } finally Configurator.setLevel(streamLog, level)
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => c.getMessage != null && c.getMessage.contains("boom on batch 1")))
    assert(staged.exists(_.startsWith("in/day")) && staged.exists(_.startsWith("ckpt/")),
      staged)
    assert(!Files.exists(root), "scratch root left after the failed drain")
  }

  test("a memory-sink drain returns the sink table and leaves no scratch or view") {
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    var root: Path = null
    val out = BoundedStream.toMemory(spark, "complete") { sc =>
      root = sc.root
      BoundedStream.arrivals(sc, days(2)).groupBy("day").count()
    }
    assert(views === before)
    assert(out.as[(Long, Long)].collect().sorted === Seq(0L -> 1L, 1L -> 2L))
    assert(!Files.exists(root))
  }
}
