package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** [[LocalRun.StreamStatePartitions]] is a session property: on the
  * shared test session (4 shuffle partitions) every kind of stateful
  * operator the registry uses runs with that many state partitions,
  * while a batch shuffle keeps the session's count. The conf behind it
  * is Spark-internal, so a Spark upgrade that stops honouring it fails
  * here. */
class StreamStatePartitionsSpec extends SparkSpec {
  import SparkSpec.session.implicits._

  private val dirs = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
  override def afterAll(): Unit = dirs.foreach(LocalRun.deleteRecursively)

  private def source(): DataFrame = {
    val dir = Files.createTempDirectory("graft_state_parts_")
    dirs += dir
    (0 until 40).map(i => (i % 5, new Timestamp(1700000000000L + i * 60000L)))
      .toDF("k", "ts").write.parquet(dir.resolve("in").toString)
    spark.readStream.schema("k INT, ts TIMESTAMP").parquet(dir.resolve("in").toString)
  }

  /** Each stateful operator's state partition count after one bounded
    * run of `df` to a memory sink. */
  private def stateParts(df: DataFrame, mode: String): Seq[Long] = {
    val q = df.writeStream.format("memory")
      .queryName("state_parts_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ops = q.recentProgress.filter(_.numInputRows > 0).last.stateOperators
    assert(ops.nonEmpty, "no stateful operator reported")
    ops.map(_.numShufflePartitions).toSeq
  }

  test("stateful aggregate, watermark dedup, stream-stream join and " +
    "flatMapGroupsWithState each run with StreamStatePartitions state partitions") {
    val want = LocalRun.StreamStatePartitions.toLong
    assert(spark.conf.get("spark.sql.shuffle.partitions").toLong != want,
      "the guard needs a session whose shuffle partitions differ")
    def check(df: DataFrame, mode: String): Unit = {
      val parts = stateParts(df, mode)
      assert(parts.forall(_ == want), s"state partitions $parts, want $want")
    }
    check(source().groupBy("k").count(), "complete")
    check(source().withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("k"), "append")
    val right = source().select(col("k").as("k2"), col("ts").as("ts2"))
    check(source().join(right, col("k") === col("k2")), "append")
    check(source().as[(Int, Timestamp)].groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: Int, rows: Iterator[(Int, Timestamp)], st: GroupState[Long]) =>
          st.update(st.getOption.getOrElse(0L) + rows.size)
          Iterator((k, st.get))
      }.toDF("k", "n"), "append")
  }

  test("a batch shuffle keeps the session's shuffle partitions") {
    val plan = spark.range(100).groupBy(col("id") % 7).count()
      .queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].initialPlan
    val parts = plan.collect { case e: ShuffleExchangeExec => e.numPartitions }
    assert(parts.nonEmpty && parts.forall(
      _ == spark.conf.get("spark.sql.shuffle.partitions").toInt), plan.toString)
  }
}
