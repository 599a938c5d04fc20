package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plan + runtime proof that st18's log-structured label store prunes
  * at the storage layer (r17: the r16 verdict's "corpus-sized label
  * probes" finding). grownDupLabelsDir writes every label dir TWICE —
  * partitioned by `bkt = pmod(xxhash64(doc), B)` and, as a
  * group-keyed secondary, by `gbkt = pmod(xxhash64(group_id), B)` —
  * and [[CorpusStreamQueries.resolvedLabelsFor]] prepends the probe's distinct
  * bucket list as literal PartitionFilters (the ss10 static-pruning
  * move), so the per-batch endpoint and member-relabel probes list
  * only their buckets' directories instead of streaming base + every
  * prior batch dir in full.
  *
  * Mirrors IvfStorePruningSpec: layout check, a one-key probe whose
  * executed scans must list ≤ 1 of the B partitions, and
  * result-identity of the pruned resolve against the full resolve.
  */
class LabelStorePruningSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val dir = CorpusStreamQueries.grownDupLabelsDir(spark, sfDir)
  private def docPaths = Seq(s"$dir/labels/base",
    s"$dir/labels/batch=0", s"$dir/labels/batch=1")
  private def grpPaths = Seq(s"$dir/labels/baseByGrp",
    s"$dir/labels/batch=0ByGrp", s"$dir/labels/batch=1ByGrp")

  test("both label layouts are bkt=/gbkt= partition directories") {
    for ((p, key) <- docPaths.map((_, "bkt=")) ++ grpPaths.map((_, "gbkt="))) {
      val parts = new java.io.File(p).listFiles()
        .filter(_.getName.startsWith(key))
      assert(parts.nonEmpty, s"$p: no $key partition dirs")
      assert(parts.length <= CorpusStreamQueries.LabelBuckets,
        s"$p: ${parts.length} $key dirs > B=${CorpusStreamQueries.LabelBuckets}")
    }
  }

  test("a one-doc endpoint probe statically prunes every label-dir scan " +
    "to its single bucket") {
    val probe = spark.range(1).select(lit(0L).as("doc"))
    val resolved = CorpusStreamQueries.resolvedLabelsFor(spark, docPaths,
      "doc", "bkt", probe)
    // collect() runs THIS QueryExecution (count() would plan a fresh
    // one, leaving the scan metrics unpopulated)
    val rows = resolved.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 0L,
      s"doc 0 must resolve to exactly one current label: ${rows.toSeq}")
    val scans = graft.LocalRun.fileScans(resolved.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("labels/")))
    assert(scans.size == docPaths.size,
      s"expected one scan per label dir, got ${scans.size}")
    for (scan <- scans) {
      assert(scan.selectedPartitions.partitionCount <= 1,
        s"one probe key must list <= 1 bucket, got " +
          s"${scan.selectedPartitions.partitionCount} at " +
          s"${scan.relation.location.rootPaths}")
    }
    val planStr = resolved.queryExecution.explainString(FormattedMode)
    val pf = planStr.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("bkt"))
      .getOrElse(fail("no PartitionFilters on bkt in the plan:\n" + planStr))
    // a one-element probe list folds to an equality literal; larger
    // lists stay an IN — either way the filter is plan-time static
    assert(pf.contains(" IN ") || pf.contains("in(") || pf.contains(" = "),
      s"PartitionFilters must carry the literal bucket list: $pf")
  }

  test("a one-group member probe prunes the secondary (ByGrp) layout " +
    "the same way") {
    // doc 0's component root: a real current representative
    val root = CorpusStreamQueries.resolvedLabelsFor(spark, docPaths, "doc", "bkt",
        spark.range(1).select(lit(0L).as("doc")))
      .collect().head.getLong(1)
    val probe = spark.range(1).select(lit(root).as("group_id"))
    val resolved = CorpusStreamQueries.resolvedLabelsFor(spark, grpPaths,
      "group_id", "gbkt", probe)
    val rows = resolved.collect()
    assert(rows.nonEmpty, s"group $root must have current members")
    val scans = graft.LocalRun.fileScans(resolved.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("labels/")))
    assert(scans.size == grpPaths.size,
      s"expected one scan per ByGrp dir, got ${scans.size}")
    for (scan <- scans)
      assert(scan.selectedPartitions.partitionCount <= 1,
        s"one probe key must list <= 1 bucket, got " +
          s"${scan.selectedPartitions.partitionCount} at " +
          s"${scan.relation.location.rootPaths}")
  }

  test("the pruned resolve is result-identical to the full resolve") {
    // every doc currently labeled — the widest possible probe; pruning
    // must be a pure superset-then-exact-join (no row gained or lost)
    val full = CorpusStreamQueries.resolvedLabels(spark, docPaths)
    def sorted(df: DataFrame): Array[String] =
      df.orderBy("doc", "group_id").collect().map(_.toString)
    assert(sorted(CorpusStreamQueries.resolvedLabelsFor(spark, docPaths, "doc", "bkt",
        full.select("doc")))
      .sameElements(sorted(full)),
      "doc-probe pruned resolve diverged from the full resolve")
    // probing every current group over the ByGrp layout must surface
    // every current row (the superseded-label safety argument in
    // resolvedLabelsFor's scaladoc, exercised store-wide)
    assert(sorted(CorpusStreamQueries.resolvedLabelsFor(spark, grpPaths, "group_id",
        "gbkt", full.select("group_id")).select("doc", "group_id"))
      .sameElements(sorted(full)),
      "group-probe pruned resolve diverged from the full resolve")
  }
}
