package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** A frame over a re-declared `LogicalRDD` needs the package-private
  * `Dataset.ofRows`. */
object CheckpointBridge {

  /** `df`, a checkpoint of `repartition(n, col(key))`, reporting
    * `HashPartitioning(key, n)` (a checkpoint taken under AQE records
    * UnknownPartitioning). A wrong declaration would give silently wrong
    * joins, so the RDD's partition count must be `n`. */
  def hashPartitioned(df: DataFrame, key: String, n: Int): DataFrame =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        require(l.rdd.getNumPartitions == n,
          s"checkpoint has ${l.rdd.getNumPartitions} partitions, declared $n")
        val k = l.output.filter(_.name == key)
        require(k.size == 1, s"no single column $key in ${l.output}")
        Dataset.ofRows(df.sparkSession, l.makeCopy(Array(l.output, l.rdd,
          HashPartitioning(k, n), l.outputOrdering, Boolean.box(l.isStreaming), l.stream)))
      case p => throw new IllegalArgumentException(s"not a checkpoint: ${p.nodeName}")
    }
}
