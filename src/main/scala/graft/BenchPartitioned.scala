package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Partitioned-layout bench (VERDICT r3 item #7): quantifies what the
  * plan-level PruningSpec proofs buy in wall-clock at sf0.1.
  *
  * The driver testdata ships each table as ONE unpartitioned parquet
  * file — the degenerate layout. A real 100 TB events table arrives
  * date-partitioned, and a day-slice query should then read 1/Nth of
  * the files at planning time (PartitionFilters), not scan everything
  * and filter rows. This main materializes BOTH layouts of the sf0.1
  * `events` fact under `SPARK_GRAFT_LAYOUT_DIR` (default
  * `target/bench_layout`, gitignored):
  *
  *  - `events_flat`: plain multi-file parquet, `dt` as a data column —
  *    a day predicate can only be a parquet row-group filter;
  *  - `events_bydt`: `partitionBy("dt")` hive layout, 30 daily
  *    partitions — the day predicate prunes at planning time.
  *
  * Three day-slice queries shaped like the r3 headline trio run on
  * each layout (f6-shaped scan+agg, a1-shaped group-by, j1-shaped
  * broadcast-dim join), warm-up + min-of-N, with the scanned-partition
  * count captured from the physical plan. Results go to
  * `SPARK_GRAFT_PARTBENCH_OUT` (default `bench_partitioned.json`) as
  * one JSON object — the committed artifact behind the BASELINE.md
  * pruned-vs-unpruned row.
  */
object BenchPartitioned {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val layoutDir = sys.env.getOrElse("SPARK_GRAFT_LAYOUT_DIR", "target/bench_layout")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_PARTBENCH_OUT", "bench_partitioned.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config(LocalRun.LocalFsConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val flat = s"$layoutDir/events_flat"
    val bydt = s"$layoutDir/events_bydt"
    if (!Files.exists(Paths.get(flat)) || !Files.exists(Paths.get(bydt))) {
      val events = Tables.events(spark, sfDir).withColumn("dt", to_date(col("ts")))
      events.write.mode("overwrite").parquet(flat)
      events.write.partitionBy("dt").mode("overwrite").parquet(bydt)
    }

    val dim = broadcast(Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment")))
    val day = "2024-01-15"

    def queries(src: String): Seq[(String, DataFrame)] = {
      val ev = spark.read.parquet(src).filter(col("dt") === lit(day))
      Seq(
        "f6_slice_agg" -> ev.agg(count(lit(1)).as("n"), sum("value").as("sum_value")),
        "a1_slice_by_type" -> ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), avg("value").as("avg_value")),
        "j1_slice_dim_join" -> ev.join(dim, col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum("value").as("sum_value")))
    }

    // Scan-shape probe: the benched queries aggregate, so their plans
    // are AQE-wrapped and (after execution) their leaves are opaque
    // QueryStageExec wrappers. The scan they all share is introspected
    // through an exchange-free projection of the same source + day
    // filter instead — no AQE, and selectedPartitions / the filesSize
    // metric are driver-side planning-time values (PruningSpec proves
    // this plan shape), so no execution is needed.
    def scannedPartitions(src: String): (Long, Long, Long) =
      spark.read.parquet(src).filter(col("dt") === lit(day))
        .select("event_id")
        .queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: FileSourceScanExec =>
            (f.selectedPartitions.partitionCount.toLong,
              f.selectedPartitions.totalNumberOfFiles,
              f.metrics.get("filesSize").map(_.value).getOrElse(-1L))
        }.getOrElse((-1L, -1L, -1L))

    def bench(df: DataFrame): Double = {
      // collect() times the full plan through result fetch, matching
      // what a client sees; the frames are tiny post-agg results, so
      // this is equivalent to count(). (Scan-shape introspection does
      // NOT depend on this execution — scannedPartitions reads
      // planning-time values off its own exchange-free probe plan.)
      def once(): Double = {
        val s = System.nanoTime(); df.collect(); (System.nanoTime() - s) / 1e9
      }
      once() // warm-up: codegen + JIT + FS metadata cache
      Seq.fill(math.max(1, iters))(once()).min
    }

    val results = for {
      (layout, src) <- Seq("flat" -> flat, "partitioned" -> bydt)
      (qname, df) <- queries(src)
    } yield {
      val sec = bench(df)
      val (parts, files, bytes) = scannedPartitions(src)
      System.err.println(f"[partbench] $layout%-12s $qname%-18s $sec%7.3f s  " +
        f"(partitions=$parts, files=$files, bytes=$bytes)")
      (layout, qname, sec, parts, files, bytes)
    }

    // Second layout lever: bucketed co-located fact-to-fact join.
    // orders ⋈ lineitem on the order key at sf0.1 (150k × 600k), with
    // broadcast disabled so the unbucketed baseline is a genuine
    // shuffle join (two exchanges) — the co-bucketed layout removes
    // both (BucketingSpec proves the plan property; this measures it).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bucketJoin = try {
      val orders = Tables.orders(spark, sfDir)
      val lineitem = Tables.lineitem(spark, sfDir)
        .withColumnRenamed("l_orderkey", "o_orderkey")
      if (!spark.catalog.tableExists("bb_orders")) {
        loaders.Bucketing.writeBucketed(orders, "bb_orders", "o_orderkey", 16)
        loaders.Bucketing.writeBucketed(lineitem, "bb_lineitem", "o_orderkey", 16)
      }
      def agg(o: DataFrame, l: DataFrame): DataFrame =
        o.join(l, Seq("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("rev"))
      def exchanges(df: DataFrame): Int =
        "(?m)^.*Exchange".r.findAllIn(
          df.queryExecution.executedPlan.toString).length
      val shuffled = agg(orders, lineitem)
      val colocated = agg(loaders.Bucketing.readBucketed(spark, "bb_orders"),
        loaders.Bucketing.readBucketed(spark, "bb_lineitem"))
      val (sSec, cSec) = (bench(shuffled), bench(colocated))
      // count pre-agg exchanges on the join inputs (the agg itself
      // still shuffles on the group key in the flat case)
      val sEx = exchanges(orders.join(lineitem, Seq("o_orderkey")))
      val cEx = exchanges(loaders.Bucketing.readBucketed(spark, "bb_orders")
        .join(loaders.Bucketing.readBucketed(spark, "bb_lineitem"), Seq("o_orderkey")))
      System.err.println(f"[partbench] shuffle join $sSec%7.3f s ($sEx exchanges)  " +
        f"co-bucketed $cSec%7.3f s ($cEx exchanges)")
      s""","bucketed_join":{"shuffle_sec":$sSec,"shuffle_exchanges":$sEx,"bucketed_sec":$cSec,"bucketed_exchanges":$cEx}"""
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    val json = results.map { case (layout, q, sec, parts, files, bytes) =>
      s"""{"layout":"$layout","query":"$q","sec":$sec,"scanned_partitions":$parts,"scanned_files":$files,"scanned_bytes":$bytes}"""
    }.mkString("""{"sf":"""" + sfDir + """","day":"""" + day + """","runs":[""", ",",
      "]" + bucketJoin + "}")
    Files.writeString(Paths.get(outFile), json + "\n")
    System.out.println(json)
    spark.stop()
  }
}
