package graft

import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract): runs every registered query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  *
  * Methodology (VERDICT r1 requirements): shared base-table subtrees are
  * cached once ([[Tables.prime]]), each query gets one warm-up execution
  * (JIT + codegen + cache materialization) and `SPARK_GRAFT_BENCH_ITERS`
  * measured executions (default 2) of which the minimum is reported —
  * steady-state cost, not first-run compilation. Failures are recorded
  * in an `errors` field and count as +1000 s, never as a fast success.
  *
  * Robustness against a contended host (the BENCH_r02 rc=124 lesson —
  * the driver's run landed on a machine degraded ~10-50x and was killed
  * by its outer timeout before printing anything):
  *  - a global wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET_S`, default
  *    max(900 s, 10 s/query), measured from the first query): past half
  *    the budget each
  *    remaining query drops to a single measured run (no warm-up, no
  *    extra iterations) so the suite always reaches the final println;
  *  - a JVM shutdown hook prints the partial JSON (`"partial":true`)
  *    if the process is SIGTERM'd before completion, so even a timeout
  *    kill leaves a parsable last line where the output pump allows it.
  *
  * The JSON line is also written to `SPARK_GRAFT_BENCH_OUT` (default
  * `bench_out.json`) — stdout on a stalled host arrives interleaved
  * with sbt log lines, so the file is the authoritative artifact.
  *
  * Plan records (bench_explain/) come from [[Profile]], not from here.
  */
object Bench {
  /** Queries that fit an ML model, run an iterative fixpoint, or drive
    * a full streaming pipeline: their DataFrame construction already
    * executes jobs, so they are timed as a median of full runs, not
    * warm-up plus min-of-iters (see below). */
  val FitQueries: Set[String] = Set(
    "x10_ols_ladder", "x11_kmeans_j6", "x15_scoring", "x17_ols_inference",
    "dd7_dup_groups",
    "dd8_dup_groups_star",
    "llm6_cross_modal_dedup", // dd7's component loop over the union pair graph
    "st1_stream_watermark_dedup",
    "st2_stream_windowed_agg", "st3_stream_stateful_counts",
    "st4_stream_stream_join", "st5_stream_scoring", "st6_stream_near_dup",
    "st7_stream_substring_dedup", // two-batch file stream runs at plan build
    "st8_stream_distinct_sketch", // two-trigger sketch-state stream, same
    "st9_stream_quantile_sketch", // pair-sketch state variant, same
    "st10_stream_sessionize",     // three-trigger session-window stream, same
    "st11_stream_heavy_hitters",  // two-trigger CMS-state stream, same
    "st12_substr_dedup_versioned", // versioned-table substr-dedup stream, same
    "st13_stream_funnel",         // two-trigger funnel-state stream, same
    "st14_stream_funnel_late",    // four-trigger buffered funnel, same
    "st15_stream_ann_topk",       // foreachBatch ANN serving stream, same
    "st16_stream_embedding_index", // two-trigger index-append stream (artifact)
    "st17_stream_ann_grown",      // serves st16's artifact; a fresh JVM would run the stream at build
    "st18_stream_dup_groups",     // two-trigger label-maintenance stream (artifact)
    "llm8_stream_curation",       // two-trigger composed curation stream (artifact)
    "tx11_bpe_tokenize", // BPE merge learning runs at plan build
    "tx14_quality_classifier", // IRLS fit runs at plan build
    "ss5_ivfpq_topk") // PQ codebook Lloyd fit runs at plan build

  /** Fit queries whose MEASURED SEMANTIC is the fit/maintenance work
    * itself, each mapped to its reset: the query's own [[Artifacts]]
    * entry is dropped before every run so the median-of-3 prices three
    * real runs, not one run and two registry reads. x15 is deliberately
    * absent — its production shape is fit-once-score-many batches, so
    * the memoized steady state IS its honest number; st17 likewise (it
    * SERVES the grown index). st16 is present because its semantic IS
    * the incremental maintenance stream — a registry read would price
    * a parquet scan as a pipeline (r15 self-review). ONE structure is
    * both the membership set and the reset dispatch (r16 self-review). */
  val RefitResets: Map[String, () => Unit] = Map(
    "x10_ols_ladder" -> "ols_ladder",
    "x11_kmeans_j6" -> "kmeans_centroids",
    "st16_stream_embedding_index" -> "st16_index",
    "st18_stream_dup_groups" -> "st18_labels",
    "llm8_stream_curation" -> "llm8_curation")
    .map { case (query, artifact) => query -> (() => Artifacts.drop(artifact)) }

  /** Quiet-host reference for [[spinProbe]] (seconds) — measured on this
    * host across a quiet phase (150M xorshift64 steps: 0.31 s ± 3%; see
    * BASELINE.md "Self-calibration probe"). The emitted `calib.ratio` is
    * median(spin_s)/this; a ratio ≥ [[StealRatio]] classifies the run as
    * steal-degraded WITHOUT needing a judge re-run — the r7 driver
    * artifact read 4.7x DuckDB when the engine's truth was 0.70x, and
    * nothing in the JSON could prove it was the host. */
  val QuietSpinS = 0.31

  /** Quiet-host reference for the WARM 32-task Spark job probe (seconds).
    * Measured on this host: 0.31-0.35 s warm across the r8 judge re-run
    * and the r8 driver run's end-of-suite probe; the first execution in a
    * JVM is ~1.0-1.2 s cold (codegen + scheduler warm-up), so [[main]]
    * discards one warm-up run before the first recorded probe. */
  val QuietSparkS = 0.33

  /** Combined probe ratio at or above this ⇒ degraded evidence; ≥
    * [[SevereRatio]] ⇒ severe (the r7-driver-phase mode: trivial one-scan
    * queries inflated 30-50x). The actual classification — run-wide
    * median, fraction-of-probes, and worst-consecutive-pair windows over
    * the MAX of spin and Spark-job ratios — lives in
    * [[BenchCalib.classify]] (pure, spec-replayed against the r8 driver
    * incident). */
  val StealRatio = 1.5
  val SevereRatio = 4.0

  /** Fixed-work single-threaded CPU probe: 150M xorshift64 steps, no
    * allocation, no memory traffic beyond three registers — wall time is
    * pure cycles, so on this single-JVM host any inflation over
    * [[QuietSpinS]] is hypervisor steal (or a severely oversubscribed
    * CPU), never Spark state. Interleaved through the suite and emitted
    * with per-probe suite-clock offsets, it localizes a steal phase in
    * TIME, which per-query seconds alone cannot (a slow query is
    * indistinguishable from a slow host until you know what the host was
    * doing at that moment). */
  def spinProbe(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 10_000_000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 } // JIT warm
    val t = System.nanoTime()
    i = 0
    while (i < 150_000_000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val s = (System.nanoTime() - t) / 1e9
    if (x == 42) System.err.println("") // keep the loop live under JIT
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    // The budget SCALES WITH THE SUITE since r13: a fixed 600 s was raised
    // once at r8 (90 queries) and the 123-query r12 suite blew through its
    // half-point in every run, silently demoting 35-42 late-alphabet
    // queries to single cold runs (mode "degraded"/"fit") — tx14 read
    // 2.33 s vs its 0.39 s fitmed3 steady state with nothing wrong but
    // the methodology. The first r13 cut scaled at 6 s/query, and the
    // first r13 run FALSIFIED it: a mostly-quiet 126-query run's all-in
    // wall (queries + warm-ups + fitmed3 triples + probes) measured
    // ~3.7 s/query, so the 3 s/query half-point line demoted 50 queries
    // even with calib ratio 1.04. 10 s/query puts the half-point
    // (5 s/query) ~35% above the measured quiet all-in rate, so only a
    // genuinely degraded host crosses it — and such a host still
    // reaches the final println inside the driver's outer timeout (the
    // r2 rc=124 budget's whole purpose). The env var still overrides.
    val budgetEnv = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S").map(_.toDouble)
    val spark = LocalRun.session(cpus.toInt)

    // ---- self-calibration (steal-proofing the artifact) -------------
    // (suite-clock for probe offsets starts HERE, before priming, so a
    // steal phase during cache warm-up is also on the record)
    val probeClock = System.nanoTime()
    def probeOffsetS: Double = (System.nanoTime() - probeClock) / 1e9
    // both buffers are read by the SIGTERM shutdown-hook emit while the
    // main thread may be mid-append — synchronize on the buffer itself
    // (everything else shared with the hook is already a concurrent map
    // or synchronized); a torn read here would crash the hook and lose
    // the partial artifact, the exact scenario the hook exists for
    val probes = scala.collection.mutable.ArrayBuffer[BenchCalib.Probe]()
    var lastProbeAt = -1e9
    // fixed parallel Spark job (32 tasks over a synthetic range): the
    // scheduler+executor analog of the spin probe. The r8 lesson: steal
    // that removes CORES from the 32-way pool (rather than timeslicing
    // the probe's core) is invisible to a single-thread spin — the driver's
    // 3.1x-inflated run read spin 0.30-0.33 s throughout and self-classified
    // quiet. This probe schedules 32 tasks through the same pool the
    // queries use, so that mode inflates it the same way it inflates them.
    // It now fires on the SAME ~20 s cadence as the spin (r8 fired it only
    // at the suite's endpoints — both of which happened to be quiet).
    def sparkJobS(): Double = {
      val t = System.nanoTime()
      spark.range(0L, 32L << 20, 1L, 32).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t) / 1e9
    }
    def maybeProbes(force: Boolean): Unit =
      if (force || probeOffsetS - lastProbeAt >= 20.0) {
        val off = probeOffsetS
        val spin = spinProbe()
        val spk = sparkJobS()
        probes.synchronized { probes += BenchCalib.Probe(off, spin, spk) }
        lastProbeAt = probeOffsetS
        System.err.println(
          f"[bench] calib @${off}%6.1f s: spin $spin%.3f s (quiet $QuietSpinS) spark32 $spk%.3f s (quiet $QuietSparkS)")
      }

    sparkJobS() // discard: first Spark job in the JVM is ~1 s of codegen/scheduler cold start
    maybeProbes(force = true)
    Tables.prime(spark, sfDir)
    queries.Warm.prime(spark, sfDir)
    maybeProbes(force = true)

    // committed per-query quiet records (bench_history/QUIET_REF.json,
    // regenerated per round by tools/quietref.py) — feeds the per-query
    // `suspect` flags: a query whose BEST iteration ran >3x its quiet
    // record is called out in the artifact tail even when the probes
    // between queries happened to land in quiet moments
    val quietRef: Map[String, Double] = {
      val p = Paths.get(sys.env.getOrElse("SPARK_GRAFT_QUIET_REF", "bench_history/QUIET_REF.json"))
      if (Files.isReadable(p)) BenchCalib.parseQuietRef(Files.readString(p)) else Map.empty
    }

    // SPARK_GRAFT_BENCH_SKIP: comma-separated query names to leave out,
    // recorded in the artifact so a reader can't mistake a filtered run
    // for the full suite. Used by the sf1 suite-scale probe, which runs
    // the BATCH queries only: the streams are already excluded from
    // every like-for-like ratio, and st4's staged-file stream machinery
    // is a fixture harness, not an operator under scale test.
    val skipSet: Set[String] =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SKIP", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknownSkips = skipSet -- SparkEntry.queries.keySet
    require(unknownSkips.isEmpty, s"SPARK_GRAFT_BENCH_SKIP names unknown queries: $unknownSkips")
    val names = (SparkEntry.queries.keySet -- skipSet).toSeq.sorted
    val budgetS = budgetEnv.getOrElse(math.max(900.0, 10.0 * names.size))
    System.err.println(f"[bench] budget ${budgetS}%.0f s for ${names.size} queries (half-point ${budgetS / 2}%.0f s)")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    // per-query methodology marker, emitted in the JSON so committed
    // artifacts can't silently mix steady-state minima with degraded
    // single shots: "min2" (warm-up + min-of-iters), "single"
    // (slow-warm-up: one measured run after warm-up), "fitmed3"
    // (fit/stream/iterative: median of 3 full runs — stall-immune),
    // "fit" (fit query under budget pressure: one run), "degraded"
    // (budget spent: one cold run)
    val modes = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // every MEASURED execution's seconds per query (warm-ups excluded),
    // emitted as "iters_s" in the rich artifact: the committed number is
    // the mode's aggregate (min/median), and without the raw samples a
    // host-steal spike inside one run is indistinguishable from a
    // structural regression when rounds are compared (the r6 a1
    // 3.56-vs-1.23 s driver/local split was diagnosable only from
    // separately-committed local history)
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Seq[Double]]()

    def js(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Two renderings of the same result: `rich` (full precision + per-query
    // methodology modes + full iteration samples + probe offsets) goes to the
    // bench_out.json file; the stdout line is compact (3-decimal seconds).
    // KEY ORDER IS THE ARTIFACT'S SURVIVAL STRATEGY: the driver's BENCH_r0N
    // wrapper stores only the stdout TAIL (~2 KB — r7's line lost its head,
    // "parsed": null), so the big queries map goes FIRST and everything a
    // reader needs to classify the run — calibration, iteration spread,
    // errors, the headline total — rides at the END of the line, inside any
    // tail window. A steal-degraded run (r7's driver phase read 4.7x DuckDB;
    // the truth was 0.70x) is now self-evident from the artifact alone:
    // calib.ratio >= 1.5 says the HOST was degraded, per-probe offsets say
    // WHEN, and the spread map shows which queries took the hit.
    def jsonLine(partial: Boolean, rich: Boolean): String = {
      val rs = done.toArray(Array.empty[(String, Double)]).toSeq
      // Locale.ROOT: a JVM under e.g. de_DE renders f"%.3f" with a decimal
      // COMMA, which would make the stdout line invalid JSON — the very
      // failure class this emitter exists to end.
      // NaN/Infinity render as JSON null, not the bare NaN %f would emit:
      // BenchCalib.Probe documents sparkS = NaN for a skipped Spark probe,
      // and one such point must not make the whole artifact unparseable
      def fmt(v: Double, dp: Int): String =
        if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) "null"
        else String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
      def sec(v: Double): String = if (rich) v.toString else fmt(v, 3)
      val qs = rs.map { case (k, v) => s"${js(k)}:${sec(v)}" }.mkString("{", ",", "}")
      val errJson = errors.synchronized {
        // compact rendering truncates error text hard: a degraded run with
        // several 300-char errors would otherwise push the whole summary
        // block past the driver's stdout-tail window again
        errors.map { case (k, v) =>
          s"${js(k)}:${js(if (rich) v else v.take(60))}"
        }.mkString("{", ",", "}")
      }
      val total = rs.map(_._2).sum
      val modeJson =
        if (!rich) ""
        else "\"modes\":" + rs.map { case (k, _) =>
          s"${js(k)}:${js(modes.getOrDefault(k, "unknown"))}"
        }.mkString("{", ",", "},")
      val itersJson =
        if (!rich) ""
        else "\"iters_s\":" + rs.map { case (k, _) =>
          val ss = samples.getOrDefault(k, Seq.empty)
          s"${js(k)}:${ss.map(_.toString).mkString("[", ",", "]")}"
        }.mkString("{", ",", "},")
      // compact line carries the spread ONLY where it is steal evidence
      // (max/min > 2 across a query's measured runs): empty on a quiet
      // host, and on a degraded one it lists exactly the queries whose
      // committed number a reader should distrust
      val spiky = rs.flatMap { case (k, _) =>
        val ss = samples.getOrDefault(k, Seq.empty)
        if (ss.size >= 2 && ss.min > 0 && ss.max / ss.min > 2.0)
          Some(s"${js(k)}:${ss.map(fmt(_, 2)).mkString("[", ",", "]")}")
        else None
      }
      val spreadJson =
        if (rich) "" // rich has every sample in iters_s already
        else "\"spread\":" + spiky.mkString("{", ",", "},")
      val probeSnap = probes.synchronized { probes.toSeq }
      val v = BenchCalib.classify(probeSnap, QuietSpinS, QuietSparkS)
      // per-query suspect flags vs the committed quiet reference: the
      // probes say what the HOST was doing between queries; this says
      // which queries' committed numbers a reader should distrust even
      // if the probes happened to sample quiet moments (r8: ss2 slow in
      // BOTH iterations while adjacent spins read 0.31 s)
      val bestByQuery = rs.flatMap { case (k, _) =>
        val ss = samples.getOrDefault(k, Seq.empty)
        if (ss.nonEmpty) Some(k -> ss.min) else None
      }.toMap
      val suspectJson = "\"suspect\":" + BenchCalib.suspects(bestByQuery, quietRef)
        .map { case (q, (b, r)) => s"${js(q)}:[${fmt(b, 2)},${fmt(r, 2)}]" }
        .mkString("{", ",", "},")
      val calibJson =
        s""""calib":{"spin_s":${probeSnap.map(p => fmt(p.spinS, 3)).mkString("[", ",", "]")},""" +
          s""""spin_at_s":${probeSnap.map(p => fmt(p.atS, 1)).mkString("[", ",", "]")},""" +
          s""""spark_s":${probeSnap.map(p => fmt(p.sparkS, 3)).mkString("[", ",", "]")},""" +
          s""""quiet_s":$QuietSpinS,"spark_quiet_s":$QuietSparkS,""" +
          s""""ratio":${fmt(v.ratio, 2)},"frac15":${fmt(v.frac15, 2)},""" +
          s""""worst2":${fmt(v.worst2, 2)},"class":${js(v.klass)}},"""
      val skippedJson =
        if (skipSet.isEmpty) ""
        else "\"skipped\":" + skipSet.toSeq.sorted.map(js).mkString("[", ",", "],")
      s"""{"metric":"total","unit":"sec","sf":${js(sfDir)},"iters":$iters,"queries":$qs,$modeJson$itersJson$spreadJson$suspectJson$calibJson$skippedJson"partial":$partial,"errors":$errJson,"value":${sec(total)}}"""
    }

    // The JSON line on stdout gets interleaved with sbt log noise on
    // contended hosts (BENCH_r03 arrived unparseable) — also write it
    // to a file the harness can read without scraping logs.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    def emit(partial: Boolean): Unit = {
      try Files.writeString(Paths.get(outFile), jsonLine(partial, rich = true) + "\n")
      catch { case e: java.io.IOException => System.err.println(s"[bench] cannot write $outFile: $e") }
      System.out.println(jsonLine(partial, rich = false))
      System.out.flush()
    }

    @volatile var finished = false
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finished) emit(partial = true)
    }))

    val t0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0) / 1e9

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val s = System.nanoTime()
        // Materialize the query's OWN physical plan, every output column
        // computed (toRdd executes the final project as-is), rows left
        // on the executors. `df.count()` would instead re-plan an
        // Aggregate over the child and let Catalyst PRUNE every
        // unreferenced window/agg/scalar expression — w1's windows,
        // a2's aggregate arithmetic — timing a skeleton of the query
        // while the DuckDB side (tools/duckbench.py) pays fetchall()'s
        // full evaluation. BenchScale caught this: its first w_window
        // leg "ran" 10M-row windows in 0.2 s.
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - s) / 1e9
      }
      // ML model fits + the streaming pipeline: their cost is iterative
      // numeric work / a real micro-batch run, not codegen warm-up.
      // A SINGLE fit run absorbs this host's hypervisor stalls whole
      // (x10 measured 4.6-13.7 s across otherwise-identical driver
      // runs), so fit queries report the MEDIAN of 3 runs — the median
      // sheds a one-off stall without the min's flattery. Under budget
      // pressure they fall back to the single run like everything else.
      // (Other queries get warm-up + min-of-N, unless the budget is
      // half-spent — then single run, so a degraded host still lets the
      // suite finish and print.)
      val isFit = FitQueries(name)
      val degraded = elapsedS > budgetS / 2
      val sec =
        try {
          if (isFit && !degraded) {
            modes.put(name, "fitmed3")
            val runs = Seq.fill(3) {
              // Each reset drops only its own query's artifact (r15
              // ADVICE): a blanket reset would drop st16's grown index
              // during the x10/x11 refits — order-dependent only
              // by accident, and a registry reorder would silently
              // force a full stream rebuild mid-bench
              RefitResets.get(name).foreach(_())
              once()
            }
            samples.put(name, runs)
            runs.sorted.apply(1)
          } else if (isFit || degraded) {
            modes.put(name, if (isFit) "fit" else "degraded")
            val run = once()
            samples.put(name, Seq(run))
            run
          } else {
            val warm = once() // warm-up: codegen + JIT + cache fill
            // a slow warm-up means iterations are expensive — cap at one
            val n = if (warm > 5.0) 1 else math.max(1, iters)
            modes.put(name, if (n == 1) "single" else s"min$n")
            val runs = Seq.fill(n)(once())
            samples.put(name, runs)
            runs.min
          }
        } catch {
          case e: Throwable =>
            errors.synchronized {
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
            }
            modes.put(name, "error")
            1000.0
        }
      done.add(name -> sec)
      System.err.println(f"[bench] $name%-28s $sec%8.2f s${if (degraded) " (degraded: single run)" else ""}")
      // ~every 20 s of suite time: a host-steal phase that starts mid-run
      // lands between two probes and is visible in calib.spin_at_s
      maybeProbes(force = false)
    }

    maybeProbes(force = true)
    finished = true
    emit(partial = false)
    spark.stop()
  }
}
