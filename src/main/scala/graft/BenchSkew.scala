package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Skew

/** Skew-join bench: quantifies what ops/Skew (and AQE's built-in
  * skew-join split) buy in wall-clock on a hot-key join — the scenario
  * the 100 TB brief names ("skewed keys → salting or AQE skew-join").
  *
  * The probe side is derived from the sf0.1 `lineitem` fact, fanned out
  * `SPARK_GRAFT_SKEW_FANOUT`× (default 60 → ~36M rows) with a join key
  * where HALF of all rows land on one hot key (key 0) and the rest
  * spread over 999 cold keys — the pathological shape where one reducer
  * owns 50% of the shuffle. The build side is a 1,000-row key dim, kept
  * OUT of broadcast range (autoBroadcastJoinThreshold=-1) so the join
  * actually shuffles; real 100 TB builds are often too big to
  * broadcast, which is exactly when skew bites.
  *
  * Three legs, identical query (join + count/sum aggregate), AQE ON for
  * all so the ONLY variable is the skew treatment:
  *  - `naive`:  sort-merge shuffle join, `skewJoin.enabled=false` — the
  *    one-reducer-owns-half baseline;
  *  - `aqe`:    `skewJoin.enabled=true` + `forceOptimizeSkewedJoin`
  *    (the join feeds an aggregate, so without force AQE declines the
  *    split to avoid the extra shuffle) — Spark's zero-code defense;
  *  - `salted`: skew handling off, explicit [[Skew.saltedJoin]] over 32
  *    salt buckets — the tool for shapes AQE cannot rewrite.
  *
  * Warm-up + min-of-N each; one JSON object to
  * `SPARK_GRAFT_SKEWBENCH_OUT` (default `bench_skew.json`) — the
  * committed artifact behind the BASELINE.md skew row. SkewSpec proves
  * result equivalence; this main proves the wall-clock claim.
  */
object BenchSkew {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    val fanout = sys.env.getOrElse("SPARK_GRAFT_SKEW_FANOUT", "60").toInt
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SKEWBENCH_OUT", "bench_skew.json")
    val spark = LocalRun.session(cpus.toInt)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    // probe: lineitem fanned out, 50% of rows on hot key 0, the rest
    // uniform over 999 cold keys; (l_orderkey, rep) is the
    // high-cardinality salt discriminator
    val probe = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
      .withColumn("rep", explode(sequence(lit(1), lit(fanout))))
      .withColumn("k",
        when(col("l_orderkey") % 2 === 0, lit(0))
          .otherwise(pmod(col("l_orderkey"), lit(999)) + 1).cast("int"))
      .persist()
    val nRows = probe.count() // materialize so legs time the join, not the scan
    val dim = spark.range(0, 1000).select(
      col("id").cast("int").as("k"),
      (col("id") * 7 % 100).cast("double").as("weight"))

    def agg(joined: DataFrame): DataFrame =
      joined.agg(count(lit(1)).as("n"),
        sum(col("l_quantity") * col("weight")).as("s"))

    def timeLeg(name: String, skewConf: Boolean, force: Boolean)(
        q: () => DataFrame): (String, Double, Long) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewConf.toString)
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", force.toString)
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = agg(q()).collect()(0).getLong(0)
        ((System.nanoTime() - t0) / 1e9, n)
      }
      once() // warm-up
      val runs = Seq.fill(math.max(1, iters))(once())
      val best = runs.map(_._1).min
      System.err.println(f"[skewbench] $name%-8s $best%7.3f s  (rows=${runs.head._2})")
      (name, best, runs.head._2)
    }

    val legs = Seq(
      timeLeg("naive", skewConf = false, force = false)(() => probe.join(dim, Seq("k"))),
      timeLeg("aqe", skewConf = true, force = true)(() => probe.join(dim, Seq("k"))),
      timeLeg("salted", skewConf = false, force = false)(() =>
        Skew.saltedJoin(probe, dim, "k", buckets = 32,
          col("l_orderkey"), col("rep"))))
    require(legs.map(_._3).distinct.size == 1,
      s"legs disagree on row count: ${legs.map(l => l._1 -> l._3)}")

    // Leg pair 2 — the LSH band-key self-join (Dedup.lshCandidatePairs)
    // on a boilerplate-heavy corpus: 90% of docs share ONE band key, so
    // the plain plan computes that band's ~(0.9n)² pair block on a
    // single reducer; saltBuckets spreads it. Same query, same output
    // (row-count asserted), only the salt knob differs.
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_LSH_DOCS", "6000").toInt
    val lshDocs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(col("id") % 10 < 9,
        array(lit("hot"), concat(lit("u"), col("id") % 50)))
        .otherwise(array(concat(lit("c"), col("id") % 37),
          concat(lit("u"), col("id") % 50))).as("bands"))
      .persist()
    lshDocs.count()
    def timeLsh(name: String, buckets: Int): (String, Double, Long) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = graft.llm.Dedup
          .lshCandidatePairs(lshDocs, "doc_id", "bands", buckets).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      once() // warm-up
      val runs = Seq.fill(math.max(1, iters))(once())
      val best = runs.map(_._1).min
      System.err.println(f"[skewbench] $name%-12s $best%7.3f s  (pairs=${runs.head._2})")
      (name, best, runs.head._2)
    }
    val lshLegs = Seq(timeLsh("lsh_plain", 1), timeLsh("lsh_salted", 32))
    require(lshLegs.map(_._3).distinct.size == 1,
      s"LSH legs disagree on candidate count: ${lshLegs.map(l => l._1 -> l._3)}")

    val legJson = legs.map { case (n, s, _) => s""""$n":$s""" }.mkString(",")
    val lshJson = lshLegs.map { case (n, s, _) => s""""$n":$s""" }.mkString(",")
    val json = s"""{"metric":"skew_join_bench","unit":"sec",""" +
      s""""probe_rows":$nRows,"hot_key_share":0.5,"iters":$iters,""" +
      s""""legs":{$legJson},""" +
      s""""lsh_docs":$nDocs,"lsh_hot_band_share":0.9,""" +
      s""""lsh_pairs":${lshLegs.head._3},"lsh_legs":{$lshJson}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
