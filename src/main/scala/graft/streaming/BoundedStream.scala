package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.{LocalRun, Tables}

/** The one runner of the registry's bounded streams (the reference's
  * poll loop, `etl_job.py:141-149`, replayed to its end): every stream
  * query reads through [[table]] or [[arrivals]] and drains through
  * [[toMemory]] or [[foreachBatch]], one `Trigger.AvailableNow` run.
  *
  * A drain owns a [[Scratch]] root under `java.io.tmpdir`: the staged
  * arrival days (`in/`) and the stream's checkpoint (`ckpt/`, the
  * memory sink's too) live there, and the drain deletes the root when
  * the stream ends, failed or not. What a returned frame reads after
  * the drain (a foreachBatch body's output tree) is the caller's, owned
  * through [[graft.Artifacts]].
  */
object BoundedStream {

  /** A drain's scratch root; only a drain makes one. */
  final class Scratch private[BoundedStream] (val root: Path)

  /** Bounded file stream over ONE table of the sf dir (the file source
    * wants a directory; the glob filter narrows it), with the table's
    * own schema. */
  def table(s: SparkSession, d: String, file: String): DataFrame = {
    Tables.ensureReadConfs(s) // the stream's direct reads bypass Tables.load
    val schema = s.read.parquet(s"$d/$file").schema
    s.readStream.schema(schema).option("pathGlobFilter", file).parquet(d)
  }

  /** `days` replayed as a real file stream: each staged as one parquet
    * file under `scratch` with a pinned, strictly increasing mod-time,
    * so the source takes one day per micro-batch, oldest first. The
    * stream's schema is the first day's with every column nullable: a
    * later day may hold nulls the first day's plan rules out. */
  def arrivals(scratch: Scratch, days: Seq[DataFrame]): DataFrame = {
    val in = Files.createDirectories(scratch.root.resolve("in"))
    days.zipWithIndex.foreach { case (df, i) =>
      val dest = in.resolve(s"day${i + 1}.parquet")
      LocalRun.writeSingleParquet(df, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = StructType(days.head.schema.map(_.copy(nullable = true)))
    days.head.sparkSession.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
  }

  /** Drain `stream` into a uniquely named memory sink in output `mode`
    * and return the sink's table. The returned frame holds the sink;
    * the temp view Spark registers for it is dropped, or it would pin
    * the sink's rows until the session ends. */
  def toMemory(s: SparkSession, mode: String)(stream: Scratch => DataFrame): DataFrame = {
    val sink = "bounded_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      drain(stream)(_.format("memory").queryName(sink).outputMode(mode))
      s.table(sink)
    } finally s.catalog.dropTempView(sink)
  }

  /** Drain `stream`, handing each micro-batch and its batch id to `body`. */
  def foreachBatch(stream: Scratch => DataFrame)(body: (DataFrame, Long) => Unit): Unit =
    drain(stream)(_.foreachBatch(body))

  /** Stateful operators get [[LocalRun.StreamStatePartitions]] state
    * stores, a property of the session the stream clones at start(). */
  private def drain(stream: Scratch => DataFrame)
                   (sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val scratch = new Scratch(Files.createTempDirectory("graft_stream_"))
    try sink(stream(scratch).writeStream)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", scratch.root.resolve("ckpt").toString)
      .start()
      .awaitTermination()
    finally LocalRun.deleteRecursively(scratch.root)
  }
}
