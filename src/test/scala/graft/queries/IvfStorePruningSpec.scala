package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Similarity

/** Plan + runtime proof that the PERSISTED IVF index actually prunes
  * at the storage layer (r15 verdict ask #1): persistedIvfDir writes
  * cells/ and codes/ `.partitionBy("cell")`, and the serving queries
  * prepend [[Similarity.probedCellSet]]'s literal probe list as a
  * partition filter — STATIC pruning, so the coarse scan lists only
  * the probed cells' directories at PLAN time, the claimed
  * nProbe/nCells scan fraction at the source rather than a post-scan
  * row filter. (Dynamic partition pruning was tried first and
  * observably degrades to `dynamicpruningexpression(true)` on this
  * shape — AQE re-plans the windowed probe side inside the DPP
  * subquery so broadcast reuse fails its sameResult check, and the
  * cost model under-prices the benefit at small scale; the static
  * list depends on neither heuristic.)
  *
  * A single-query serve probes nProbe of the 10 label cells, so
  * pruning is observable (3 ≪ 10) rather than vacuous — a many-query
  * workload's probe UNION can legitimately cover every cell at
  * fixture scale; that is workload behavior, not a pruning failure.
  */
class IvfStorePruningSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def scanOf(df: DataFrame, table: String): FileSourceScanExec =
    graft.LocalRun.fileScans(df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains(table)))
      .getOrElse(fail(s"no FileSourceScanExec over $table/ in the plan"))

  test("cells/ and codes/ are laid out as cell= partition directories") {
    val ivf = SearchQueries.persistedIvfDir(spark, sfDir)
    for (t <- Seq("cells", "codes")) {
      val parts = new java.io.File(s"$ivf/$t").listFiles()
        .filter(_.getName.startsWith("cell="))
      assert(parts.length == 10,
        s"$t/: expected 10 cell= partition dirs, got ${parts.length}")
    }
  }

  test("ss10 serve: the probe list statically prunes the inverted-file scan") {
    val ivf = SearchQueries.persistedIvfDir(spark, sfDir)
    val emb = graft.Tables.embeddings(spark, sfDir)
    // ONE query vector → the probe set is exactly nProbe cells
    val oneQ = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cents = spark.read.parquet(s"$ivf/centroids")
    val probed = Similarity.probedCellSet(oneQ, "q_id", "q_vec",
      cents, "cent_vec", "cell", nProbe = 3)
    assert(probed.length == 3, s"one query must probe exactly 3 cells: $probed")
    val served = Similarity.ivfInt8RefineTopKStored(
      spark.read.parquet(s"$ivf/cells")
        .filter(col("cell").isin(probed: _*)),
      "vec_id", "q8", "cell",
      cents, "cent_vec",
      emb.select("vec_id", "embedding"), "embedding",
      oneQ, "q_id", "q_vec", nProbe = 3, shortlist = 12, k = 3)
    // collect() runs THIS QueryExecution — count() would plan a fresh
    // one, leaving the scan metrics below unpopulated
    assert(served.collect().length == 3)
    val scan = scanOf(served, "cells")
    // pruning is STATIC: the plan-time listing already excludes the
    // unprobed cells — no runtime machinery to degrade
    assert(scan.selectedPartitions.partitionCount <= 3,
      s"expected <= nProbe=3 partitions in the static listing, got " +
        s"${scan.selectedPartitions.partitionCount} of 10")
    assert(scan.metrics("numPartitions").value <= 3,
      s"expected <= nProbe=3 partitions read, got " +
        s"${scan.metrics("numPartitions").value}")
    // and the literal probe list is visible in PartitionFilters
    val planStr = served.queryExecution.explainString(FormattedMode)
    val pf = planStr.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("cell"))
      .getOrElse(fail("no PartitionFilters on cell in the plan:\n" + planStr))
    assert(pf.contains("cell") && (pf.contains(" IN ") || pf.contains("in(")),
      s"PartitionFilters must carry the literal probe IN-list: $pf")
  }

  test("ss11 serve: the PQ codes scan partition-prunes the same way") {
    val ivf = SearchQueries.persistedIvfDir(spark, sfDir)
    val emb = graft.Tables.embeddings(spark, sfDir)
    val oneQ = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cents = spark.read.parquet(s"$ivf/centroids")
    val probed = Similarity.probedCellSet(oneQ, "q_id", "q_vec",
      cents, "cent_vec", "cell", nProbe = 2)
    val served = Similarity.ivfPqTopK(
      spark.read.parquet(s"$ivf/codes")
        .filter(col("cell").isin(probed: _*)),
      "vec_id", "cell",
      spark.read.parquet(s"$ivf/codebook"),
      cents, "cent_vec",
      oneQ, "q_id", "q_vec",
      SearchQueries.PqM, SearchQueries.PqSubDim, nProbe = 2, k = 3)
    assert(served.collect().length == 3)
    val scan = scanOf(served, "codes")
    assert(scan.selectedPartitions.partitionCount <= 2,
      s"expected <= nProbe=2 partitions in the static listing, got " +
        s"${scan.selectedPartitions.partitionCount} of 10")
    assert(scan.metrics("numPartitions").value <= 2,
      s"expected <= nProbe=2 partitions read, got " +
        s"${scan.metrics("numPartitions").value}")
  }

  test("the pruned serve is result-identical to the unpruned serve") {
    val ivf = SearchQueries.persistedIvfDir(spark, sfDir)
    val emb = graft.Tables.embeddings(spark, sfDir)
    val qs = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cents = spark.read.parquet(s"$ivf/centroids")
    val probed = Similarity.probedCellSet(qs, "q_id", "q_vec",
      cents, "cent_vec", "cell", nProbe = 3)
    def serve(cells: DataFrame): Array[String] =
      Similarity.ivfInt8RefineTopKStored(cells, "vec_id", "q8", "cell",
          cents, "cent_vec",
          emb.select("vec_id", "embedding"), "embedding",
          qs, "q_id", "q_vec", nProbe = 3, shortlist = 12, k = 3)
        .orderBy("query_id", "rank")
        .collect().map(_.toString)
    val full = spark.read.parquet(s"$ivf/cells")
    assert(serve(full.filter(col("cell").isin(probed: _*)))
      .sameElements(serve(full)),
      "static pruning must not change any served row")
  }
}
