package graft.ml

import org.apache.spark.rdd.RDD

/** Sums of per-row contributions that do not depend on the order
  * Spark's tasks finish in. A plain `treeAggregate` adds the partitions'
  * partial sums as they arrive, so two runs of one fit can differ in the
  * last digits, and so can every oracle that embeds the fit's literals. */
private[ml] object OrderedSum {

  /** Adds `add`'s contributions of each row into a partition's `n`
    * plain doubles (one pass, in the partition's row order), collects
    * the partials in partition-index order and adds them in that order
    * on the driver. No row is shuffled; only `n` doubles per partition
    * travel. */
  def sum[T](rows: RDD[T], n: Int)(add: (Array[Double], T) => Unit): Array[Double] = {
    val partials = rows.mapPartitions { it =>
      val acc = new Array[Double](n)
      it.foreach(add(acc, _))
      Iterator(acc)
    }.collect()
    val total = new Array[Double](n)
    for (p <- partials; k <- 0 until n) total(k) += p(k)
    total
  }
}
