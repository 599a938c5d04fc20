package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared runtime plumbing for the CLI mains (Bench/Verify/Profile/
  * BenchScale/ShufflePin/InflateSf, and perfbench's Main) — one
  * definition of the local session config so a session-semantics fix
  * (e.g. a new legacy-parquet flag the fixtures need) lands everywhere
  * at once instead of drifting across copy-pasted builders. */
object LocalRun {

  /** The standard local session: UTC (the oracle comparison's clock),
    * nanos-as-long + no NTZ inference (the driver-written parquet's
    * timestamp encoding), UI off, shuffle partitions sized to the core
    * count (not Spark's default 200 — local mode has `cpus` slots). */
  def session(cpus: Int, shufflePartitions: Int = -1): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else cpus
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", sp)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // let a join reuse a child partitioning on a SUBSET of its keys
      // (leading-key co-partitioning): the r18 one-exchange pipelines
      // (tx21/llm4) hash the corpus by doc_id once and run every
      // downstream gram/token-grain join on (doc_id, …) keys without
      // re-shuffling — scale-independent planner leniency (the same
      // subset rule aggregations/windows already get by default), not
      // a local-mode tuning knob
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config(LocalFsConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // a deliberate checkpoint release (Dedup.releaseCheckpoint, each
    // connected-components round) is not a fault: keep its "lineage has
    // been truncated" warning out of the log
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** Binds `file:` — the FileSystem and the FileContext side — to
    * [[graft.io.LocalFileSystem]] / [[graft.io.LocalFs]]: Hadoop's
    * checksummed local filesystem minus the `chmod`/`readlink` process
    * it forks per created file and per link-status call when no
    * libhadoop is loaded (every sink part file, checkpoint offset/commit
    * file and state-store delta). Every session builder applies it; the
    * Hadoop FileSystem cache is JVM-global, so the first session in a
    * JVM decides the `file:` instance for all later ones. */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.LocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.LocalFs].getName)

  /** Number of streaming STATE partitions the engine's bounded-stream
    * queries run with — the p8 lever the r13 stream fixed-cost
    * decomposition priced (BASELINE.md "Streaming suite fixed cost"
    * and "Retired probes"): a stateful operator instantiates one state
    * store per shuffle partition at a fresh checkpoint's first batch,
    * and the per-trigger commit cycle across the stores (NOT data
    * volume) dominated the streaming suite's cost at fixture scale
    * (~9 s CPU/trigger over 32 HDFS-backed stores holding ~130 rows;
    * most of that was Hadoop forking `chmod`/`readlink` per checkpoint
    * and delta file, which [[LocalFsConf]] removes; fewer stores still
    * mean fewer commits).
    * Production sizes state partitions to STATE VOLUME, not to the
    * batch session's CPU count — 8 here, matching the probe's priced
    * arm; a 100 TB deployment with hot keys raises it per stream (the
    * conf is recorded in the checkpoint, so the setting is a
    * per-pipeline deployment choice, exactly how this exposes it). */
  val StreamStatePartitions = 8

  /** Run `body` with `spark.sql.shuffle.partitions` set to `n`,
    * restoring the prior value after — how a per-STREAM state-partition
    * count is expressed (the conf is read at the fresh checkpoint's
    * first batch and recorded there; every bounded stream here defines,
    * starts, and drains inside `body`). The swap mutates SESSION-global
    * conf, so the swap window is mutually exclusive across threads (the
    * JVM-wide lock below) — two concurrent bounded streams serialize
    * instead of interleaving their set/restore and leaking `n` past the
    * block (r14 ADVICE: the serial contract is now enforced, not
    * advisory). Queries running OUTSIDE this helper on the same session
    * remain the caller's responsibility — Verify/Bench/specs run
    * queries one at a time by construction. */
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Run `body` with one session conf temporarily swapped, restoring
    * the prior value after — the generalized form of
    * [[withShufflePartitions]] (same JVM-wide lock, same serial
    * contract: concurrent swap windows serialize instead of leaking
    * the temporary value past the block). r18 adds a second user:
    * partitioned localCheckpoints must materialize with AQE off so
    * the LogicalRDD records the hash partitioning instead of
    * UnknownPartitioning. */
  def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T =
    shufflePartitionsLock.synchronized {
      val prev = s.conf.get(key)
      s.conf.set(key, value)
      try body finally s.conf.set(key, prev)
    }
  private val shufflePartitionsLock = new Object

  /** FileSourceScanExec leaves of `p`, descending through AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec are LEAF nodes whose
    * subtree hangs off a field, invisible to a plain collect) — the
    * one definition of post-execution scan introspection, shared by
    * the scale bench's stored-serving arm and IvfStorePruningSpec
    * (r16 self-review: duplicated plan-walking drifts on a Spark
    * upgrade). BenchPartitioned's leaf probe is deliberately NOT this
    * — it reads planning-time values off an exchange-free plan. */
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(q.plan)
    }.flatten

  /** Write `df` as ONE parquet FILE at `dest` (not a directory) — the
    * layout the driver's testdata uses and the file-addressed readers
    * (DuckDB `read_parquet`, the file-stream sources' staged arrival
    * days) expect. Spark only writes directories, so this stages to
    * `<dest>_tmp/`, moves the single part file out, and removes the
    * staging dir. */
  def writeSingleParquet(df: DataFrame, dest: java.nio.file.Path): Unit = {
    val tmp = dest.getParent.resolve(dest.getFileName.toString + "_tmp")
    df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $dest"))
    java.nio.file.Files.deleteIfExists(dest)
    java.nio.file.Files.move(part.toPath, dest)
    tmp.toFile.listFiles().foreach(_.delete())
    java.nio.file.Files.delete(tmp)
  }

  /** Recursive delete for the temp trees the staged-stream queries
    * create (children before parents; missing files tolerated). */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(root)) {
      val f = root.toFile
      if (f.isDirectory) f.listFiles().foreach(c => deleteRecursively(c.toPath))
      java.nio.file.Files.deleteIfExists(root)
    }
  }
}
