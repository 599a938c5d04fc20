package graft.loaders

import org.apache.spark.sql.execution.FormattedMode

import graft.SparkSpec

/** Plan-level proof of the three scan-reduction levers the 100 TB
  * posture relies on (SURVEY §8 scale table): partition pruning on a
  * date-partitioned layout, predicate pushdown into the parquet scan,
  * and column pruning to the projected ReadSchema. The driver testdata
  * is a single unpartitioned file per table, so this spec writes its
  * own partitioned layout — the layout a real 100 TB events table
  * would have. */
class PruningSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-pruning").toString
    (0 until 1000)
      .map(i => (i.toLong, s"s${i % 7}", 1.0 + i % 13, f"2024-03-${i % 4 + 1}%02d"))
      .toDF("event_id", "station_no", "value", "dt")
      .write.partitionBy("dt").mode("overwrite").parquet(d)
    d
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("partition pruning: a dt filter reaches PartitionFilters and prunes to one partition") {
    val q = spark.read.parquet(dir)
      .filter($"dt" === "2024-03-01")
      .select("event_id", "value")
    val p = plan(q)
    // the partition predicate must be handled at planning time, not as a data filter
    assert(p.contains("PartitionFilters"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("dt")), p)
    // and it must NOT appear as a post-scan Filter on rows
    assert(!p.linesIterator.exists(l =>
      l.trim.startsWith("Condition") && l.contains("dt#")), p)
    // physically: only the matching partition's files are scanned
    val scanned = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.contains(1), s"selectedPartitions = $scanned")
  }

  test("predicate pushdown: a data-column filter lands in PushedFilters") {
    val q = spark.read.parquet(dir).filter($"value" > 9.0).select("event_id")
    val p = plan(q)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("GreaterThan(value")), p)
  }

  test("column pruning: ReadSchema carries only the projected columns") {
    val q = spark.read.parquet(dir).select("station_no")
    val p = plan(q)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("station_no"), readSchema)
    assert(!readSchema.contains("event_id") && !readSchema.contains("value"), readSchema)
  }
}
