package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.logging.log4j.core.filter.RegexFilter
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared runtime plumbing for the CLI mains and perfbench's Main: one
  * definition of the local session config ([[SessionConf]]), so a
  * session-semantics fix (e.g. a new legacy-parquet flag the fixtures
  * need) lands in every session at once. */
object LocalRun {

  /** The standard local session: [[SessionConf]], shuffle partitions
    * sized to the core count (local mode has `cpus` slots, not Spark's
    * default 200), logs at WARN less [[quietLogs]]. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(SessionConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quietLogs()
    s
  }

  /** WARNs that say nothing about this program's health, as in
    * `src/test/resources/log4j2.properties`: a deliberate checkpoint
    * release's "lineage has been truncated"; each stream start's
    * AQE-unsupported and temporary-checkpoint notices; each stateful
    * stream's "Disabling AQE" notice; a stream restarting from its
    * checkpoint, whose state stores each report that their version is
    * not in memory yet and that their snapshot files carry no checksum;
    * and each stream stop's "Failed to cancel job group" when none of
    * the stream's jobs is running. The last four are filtered by
    * message alone, so their loggers' other warnings stay. */
  private def quietLogs(): Unit = {
    val streaming = "org.apache.spark.sql.execution.streaming"
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    Configurator.setLevel(s"$streaming.runtime.ResolveWriteToStream", Level.ERROR)
    denyMessage(s"$streaming.runtime.MicroBatchExecution",
      "Disabling AQE since AQE is not supported in stateful workloads.*")
    // each provider logs under its class name plus its store id, a
    // name no logger config can match, so the filter sits on the package
    denyMessage(s"$streaming.state",
      "The state for version \\d+ doesn't exist in loadedMaps\\..*")
    denyMessage(s"$streaming.checkpointing.ChecksumCheckpointFileManager",
      "No checksum file found for .*, hence no checksum verification\\.")
    denyMessage("org.apache.spark.scheduler.DAGScheduler",
      "Failed to cancel job group .*\\. Cannot find active jobs for it\\.")
  }

  /** Drops `logger`'s messages matching `regex` (whole message), in a
    * logger config of its own so the filter stays scoped; level inherited. */
  private def denyMessage(logger: String, regex: String): Unit = {
    Configurator.setLevel(logger, null: Level)
    val config = LoggerContext.getContext(false).getConfiguration.getLoggerConfig(logger)
    if (!config.hasFilter) config.addFilter(RegexFilter.createFilter(
      regex, null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
  }

  /** State partitions of every stateful streaming operator on a
    * [[SessionConf]] session, through Spark's internal
    * `spark.sql.streaming.internal.stateStore.partitions` (recorded in
    * each checkpoint; batch shuffles and foreachBatch bodies keep
    * `spark.sql.shuffle.partitions`). Each partition's store commits
    * every trigger, and that cycle, not data volume, dominated the
    * streaming suite at fixture scale (BASELINE.md "Streaming suite fixed
    * cost"), so state is sized to state volume, not to CPUs. Not a child
    * session per stream: its streams would report to its own listener
    * bus, unseen by graft.Profile and perfbench.
    * StreamStatePartitionsSpec fails if Spark stops honouring the conf. */
  val StreamStatePartitions = 8

  /** The fixed semantic confs of every session (every main's
    * [[session]] and the test session): UTC (the oracle comparison's
    * clock), nanos-as-long + no NTZ inference (the fixture parquet's
    * timestamp encoding), subset co-partitioning, UI off,
    * [[StreamStatePartitions]] and the fork-free `file:` filesystem. */
  val SessionConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // a join may reuse a child partitioning on a SUBSET of its keys:
    // tx21/llm4 hash the corpus by doc_id once and join every
    // (doc_id, …)-keyed grain without re-shuffling — the subset rule
    // aggregations and windows already get, not a local-mode knob
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.internal.stateStore.partitions" -> StreamStatePartitions.toString,
    // file: as graft.io.LocalFileSystem / LocalFs: Hadoop's checksummed
    // local filesystem minus the chmod/readlink process it forks per
    // created file and link-status call without libhadoop. The Hadoop
    // FileSystem cache is JVM-global: a JVM's first session decides it.
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.LocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.LocalFs].getName)

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
