package graft

import org.apache.spark.sql.execution.FormattedMode

/** Automated version of the manual bench_explain/ plan audit: the
  * committed artifacts claim zero SortMergeJoin and zero
  * CartesianProduct across all registered queries, with
  * BroadcastNestedLoopJoin only where a provably tiny side is
  * explicitly broadcast (one-row stat frames, fitted-coefficient
  * literals, small query sets). This spec makes that claim
  * self-enforcing: a future query or refactor that regresses a join
  * into SMJ or an unhinted cartesian fails the build, instead of
  * waiting for a human to re-read 69 explain dumps.
  *
  * Runs against sf0.001. Plan SHAPE (join strategy choice) is driven
  * by the explicit broadcast hints in the query code, not by
  * size-estimate thresholds, so the audit result is scale-independent
  * — the same queries' sf0.1 plans are the committed bench_explain/
  * artifacts, captured with this same FormattedMode explain.
  *
  * Fit/stream/iterative queries (Bench.FitQueries) execute real work
  * during DataFrame construction (model fits, fixpoint rounds, a
  * micro-batch stream run); at sf0.001 that costs seconds, and the
  * audited plan is the final result-stage plan — the per-round
  * iterative shapes live in bench_explain/ (written by `runMain
  * graft.Profile`, the one regenerate command).
  */
class PlanAuditSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose plan legitimately contains a
    * BroadcastNestedLoopJoin: every one is a crossJoin(broadcast(x))
    * where x is a one-row aggregate/stat frame, fitted-model literals,
    * or a bounded distinct-category frame — the audit of WHY each is
    * safe is in the scaladoc at each call site. Additions to this set
    * require the same justification. */
  private val bnljAllowed: Set[String] = Set(
    "a12_funnel",         // rollup: four ONE-ROW stage aggregates crossed
    "a13_funnel_4stage",  // same Funnel rollup shape: five ONE-ROW frames crossed
    "j5_nn_mrt_distance", // every station × 3-row MRT frame (broadcast)
    "ss1_cosine_topk",    // corpus × broadcast tiny query set (exact baseline)
    "ss6_int8_quantized_topk", // ss1's shape on int8-quantized vectors
    "ss7_int8_refine_topk", // coarse pass = ss6's broadcast cross; refine is keyed
    "ss9_int8_persisted_topk", // ss7's coarse cross over the PERSISTED int8 scan
    "ss12_int8_planned_topk",  // ss9's coarse cross at the planner's depth
    "st17_stream_ann_grown",   // ss7's coarse cross over the GROWN stored index (st16's appends)
    "ss2_ivf_topk",       // cell-pruned scan × broadcast query set
    "ss8_ivf_int8_topk",  // ss2's probe cross (query set × broadcast centroids); coarse/refine keyed
    "ss10_ivf_persisted_topk", // ss8's probe cross, centroids read from the STORED index table (still broadcast-tiny)
    "ss5_ivfpq_topk",     // probe: query set × broadcast centroid frame (ss2's shape)
    "ss11_ivfpq_persisted_topk", // ss5's probe cross over the stored centroid table
    "x10_ols_ladder",     // R² restatement × one-row SST/SSE frame
    "x12_minmax_scale",   // rows × one-row min/max frame
    "x13_minmax_roundtrip",
    "x15_scoring",        // rows × one-row fitted-coefficient frame
    "x17_ols_inference",  // same model frame as x10/x15 (station × 3-row MRT cross)
    "x5_anova_eta",       // groups × one-row grand-mean frame
    "x6_tukey",           // pairs × one-row MSW frame
    "x7_chi2_cramer",     // grid completion: distinct rows × distinct cols
    "x9_residuals",
    "dd10_semantic_dedup",     // assignCells: corpus × broadcast centroid table (ss2's pattern)
    "llm3_diversity_sampling", // same assignCells cross as dd10 (shared builder)
    "tx10_importance_weights", // bucket table × one-row side-totals frame
    "ss4_bm25_topk",           // posting fragment × one-row corpus-stats frame
    "st11_stream_heavy_hitters" // probes × one-row cms-identity flag frame
  )

  test("no SortMergeJoin or CartesianProduct in any registered query plan; " +
    "BroadcastNestedLoopJoin only in the whitelisted tiny-broadcast crosses; " +
    "shuffle-exchange counts never exceed the committed pins") {
    // exchange-count pins (r8 verdict ask #7): a lost broadcast hint
    // adds shuffle exchanges without tripping the SMJ ban — the pinned
    // counts (bench_explain/SHUFFLE_PINS.json, regenerated by `runMain
    // graft.ShufflePin`) fail any INCREASE. Only increase: suites that
    // ran earlier in this JVM may have populated fit/frame memos whose
    // cached subtrees legitimately HIDE exchanges behind an
    // InMemoryTableScan, so a lower live count is expected noise while
    // a higher one is always a regression.
    val pins: Map[String, Int] = {
      val p = java.nio.file.Paths.get("bench_explain/SHUFFLE_PINS.json")
      assert(java.nio.file.Files.isReadable(p),
        "missing bench_explain/SHUFFLE_PINS.json — run graft.ShufflePin")
      BenchCalib.parseQuietRef(java.nio.file.Files.readString(p))
        .map { case (k, v) => k -> v.toInt }
    }
    val unpinned = SparkEntry.queries.keySet -- pins.keySet
    assert(unpinned.isEmpty,
      s"queries with no shuffle pin: ${unpinned.toSeq.sorted.mkString(", ")} — " +
        "regenerate via `runMain graft.ShufflePin`")
    // match the generator's priming state: with tables cached, each scan
    // is an InMemoryTableScan leaf; an earlier suite's clearCache would
    // otherwise expose every table's fan-out repartition and read as a
    // +1-per-table false regression across the whole registry
    Tables.prime(spark, sfDir)
    queries.Warm.prime(spark, sfDir)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(FormattedMode)
        val nEx = ShufflePin.shuffleCount(df)
        val bad = Seq(
          Some("SortMergeJoin").filter(plan.contains),
          Some("CartesianProduct").filter(plan.contains),
          Some("BroadcastNestedLoopJoin")
            .filter(m => plan.contains(m) && !bnljAllowed(name)),
          if (nEx > pins(name))
            Some(s"$nEx shuffle exchanges vs pinned ${pins(name)} — an " +
              "added exchange (lost broadcast?); if intentional, " +
              "regenerate via `runMain graft.ShufflePin`")
          else None
        ).flatten
        if (bad.nonEmpty) Some(s"$name: ${bad.mkString(", ")}") else None
    }
    assert(offenders.isEmpty,
      s"plan audit failures (see bench_explain/ methodology):\n${offenders.mkString("\n")}")
  }

  test("no SortMergeJoin or CartesianProduct in any committed STREAM-plan " +
    "capture — the foreachBatch bodies the live sweep cannot see") {
    // r16 verdict finding #3/#4: the live audit above constructs the
    // registered BATCH DataFrames, but a streaming query's per-trigger
    // work is its micro-batch plan plus its foreachBatch body's nested
    // executions, which graft.Profile records from listener events and
    // commits to bench_explain/ — exactly where llm8's two
    // un-broadcast SMJs hid. This audits the committed captures
    // themselves, so a lost broadcast inside a micro-batch body fails
    // the build the same way a batch regression does. The file list is
    // pinned to every registered st*/llm8 stream rather than
    // discovered, so silently dropping a capture cannot shrink the
    // sweep; each file must carry the micro-batch section, because
    // graft.Profile derives "stream" from the capture itself — a
    // stream that stopped capturing would be recorded as a plain batch
    // plan and drop out of this audit; and that section must scan a
    // file source, so a record of the trailing <empty>-source batch
    // (which executes none of the per-batch work) fails too.
    val streamNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.startsWith("st") && n != "st17_stream_ann_grown") ++
      Seq("llm8_stream_curation")
    assert(streamNames.size >= 18, s"stream audit set shrank: $streamNames")
    val offenders = streamNames.flatMap { name =>
      val f = java.nio.file.Paths.get(s"bench_explain/$name.txt")
      assert(java.nio.file.Files.isReadable(f),
        s"missing committed stream plan capture $f")
      val plan = java.nio.file.Files.readString(f)
      val bad = Seq(
        Some("no micro-batch capture section")
          .filterNot(_ => plan.contains(Profile.MicroBatchSection)),
        Some("no file-source scan in the micro-batch section")
          .filterNot(_ => plan.take(plan.indexOf(Profile.FinalReadSection))
            .contains(Profile.FileScan)),
        Some("SortMergeJoin").filter(plan.contains),
        Some("CartesianProduct").filter(plan.contains)).flatten
      if (bad.nonEmpty) Some(s"$name: ${bad.mkString(", ")}") else None
    }
    assert(offenders.isEmpty,
      "bad committed stream-plan captures (fix, then regenerate via " +
        s"`runMain graft.Profile`):\n${offenders.mkString("\n")}")
  }

  test("every registered query has a committed bench_explain/ plan file — " +
    "the zero-SMJ sweep provably covers the whole registry") {
    // graft.Profile writes one file per registered query. When two
    // tools split the registry, tx11/tx14 fell between them in r7 (83
    // files for 85 queries) and the committed sweep silently excluded
    // them — this pins the full set.
    val dir = new java.io.File("bench_explain")
    assert(dir.isDirectory, s"missing ${dir.getAbsolutePath}")
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => new java.io.File(dir, s"$n.txt").isFile)
    assert(missing.isEmpty,
      s"queries with no committed plan dump: ${missing.mkString(", ")} — " +
        "regenerate via `runMain graft.Profile`")
  }

  test("uncached scans receive pruned schemas and pushed filters through " +
    "Tables.load's fan-out repartition (the 100 TB read path)") {
    // The committed bench_explain/ scans show full-width schemas because
    // Bench/Verify prime() a shared full-width cache across 69 queries
    // (documented harness choice). At 100 TB the fact table is NOT
    // cached — this asserts the real read path: Catalyst pushes both the
    // projection and the predicate through the fan-out Repartition down
    // to the parquet scan.
    import org.apache.spark.sql.functions.{avg, col}
    // the full-suite audit above ran the fit queries, which register
    // their own cached subtrees — drop them so a matching fragment can't
    // substitute an InMemoryRelation for the parquet scan under audit
    // (later suites that want caching call .cache() themselves)
    spark.catalog.clearCache()
    val typed = Tables.events(spark, sfDir)
      .filter(col("user_id").isin(2L, 3L, 5L))
      .groupBy("user_id").agg(avg("value").as("v"))
      .queryExecution.explainString(FormattedMode)
    assert(typed.contains("PushedFilters: [In(user_id, [2,3,5])]"), typed)
    assert(typed.contains("ReadSchema: struct<user_id:bigint,value:double>"), typed)

    // f6 end-to-end: the registered query's scan must carry the typed IN
    // filter — the regression this guards is someone "simplifying" f6
    // back to a filter on the public string-cast column, which silently
    // un-pushes the predicate (cast(user_id AS string) IN (…) has no
    // safe unwrap) and full-scans the fact table at scale
    val f6 = SparkEntry.queries("f6_idset_filter")(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    assert(f6.contains("PushedFilters: [In(user_id"), f6)
  }
}
