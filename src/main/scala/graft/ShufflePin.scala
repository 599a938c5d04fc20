package graft

import java.nio.file.{Files, Paths}

/** Per-query shuffle-exchange pins (r8 verdict ask #7): bench_explain/
  * covers every query and PlanAuditSpec bans SMJ/cartesian, but nothing
  * stopped a regression that ADDS an exchange (e.g. a lost broadcast
  * hint silently downgrades a map-side join to a shuffled one and
  * passes the ban). `runMain graft.ShufflePin` regenerates
  * bench_explain/SHUFFLE_PINS.json — the per-query count of shuffle
  * Exchange nodes in the pre-AQE plan at sf0.001 from a FRESH session
  * (no fit/frame memos, so the pins are the canonical un-memoized
  * counts) — and PlanAuditSpec fails any query whose live count
  * EXCEEDS its pin. Counts are scale-independent for the same reason
  * the SMJ audit is: join strategies come from explicit hints, not
  * size estimates.
  */
object ShufflePin {

  /** Count of shuffle Exchange nodes in the query's pre-AQE physical
    * plan — a TREE walk, not a string count (SimpleMode prints an
    * InMemoryRelation's full cached child plan at every reference, so
    * memoized cached frames would inflate a string count
    * multiplicatively). An InMemoryTableScan is a LEAF: its cached
    * child does not execute, so a memoized build can only LOWER the
    * count vs the fresh-session pin — which is why the audit fails
    * only on increase. Broadcast exchanges are excluded (a lost
    * broadcast shows up as the shuffle exchanges that replace it);
    * ReusedExchange references don't re-execute and count zero. */
  def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    def walk(p: SparkPlan): Int = p match {
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => 0
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.initialPlan)
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        1 + s.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "bench_explain/SHUFFLE_PINS.json"
    val spark = LocalRun.session(8)
    Tables.prime(spark, sfDir)
    queries.Warm.prime(spark, sfDir)
    val counts = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val c = shuffleCount(fn(spark, sfDir))
      System.err.println(f"[shufflepin] $name%-30s $c")
      name -> c
    }
    val json = counts.map { case (n, c) => s"""  "$n": $c""" }
      .mkString("{\n \"_source\": \"graft.ShufflePin over sf0.001, fresh session (no memos)\",\n \"queries\": {\n", ",\n", "\n } }\n")
    Files.writeString(Paths.get(out), json)
    System.err.println(s"[shufflepin] wrote $out (${counts.size} queries)")
    spark.stop()
  }
}
