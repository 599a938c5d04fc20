package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Bench, LocalRun, SparkEntry, Tables}
import graft.ingest.EtlJob
import graft.queries.Warm

/** Counters the traced run collects from Spark's scheduler and streaming
  * listener buses. Each op reads the difference between two snapshots
  * taken after the buses have drained. */
final class Layers extends StreamingQueryListener {
  private val c = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
  private val triggers = ArrayBuffer[Double]()
  def add(k: String, v: Double): Unit = synchronized { c(k) += v }
  def snap(): Map[String, Double] = synchronized { c.toMap }
  def triggerSeconds: Seq[Double] = synchronized { triggers.toSeq }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      add("tasks", 1)
      if (i.failed || i.killed) add("failed_tasks", 1)
      if (m != null) {
        val gettingResult =
          if (i.gettingResultTime > 0) math.max(0L, i.finishTime - i.gettingResultTime) else 0L
        val delay = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        add("sched_delay_s", delay / 1e3)
        add("task_run_s", m.executorRunTime / 1e3)
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("gc_s", m.jvmGCTime / 1e3)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Main.MB)
        add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / Main.MB)
        add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / Main.MB)
        add("input_mb", m.inputMetrics.bytesRead / Main.MB)
        add("output_mb", m.outputMetrics.bytesWritten / Main.MB)
      }
    }
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def s(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    add("triggers", 1)
    synchronized { triggers += s("triggerExecution") }
    add("add_batch_s", s("addBatch"))
    add("wal_commit_s", s("walCommit"))
    add("query_planning_s", s("queryPlanning"))
    p.stateOperators.foreach { o =>
      add("state_commit_s", o.commitTimeMs / 1e3)
      add("state_rows", o.numRowsTotal.toDouble)
    }
  }
}

/** One measured operation: a query execution or an ETL tick. */
final case class Op(
    id: Int, name: String, pass: Int, traced: Boolean, ok: Boolean, error: String,
    result: String, seconds: Double, parts: Seq[(String, Double)], rows: Long,
    layers: Map[String, Double], pinnedMb: Double, cachedRdds: Int)

/** One span of the traced run: a layer boundary inside an op. */
final case class Span(op: Int, name: String, parent: String, startNs: Long, endNs: Long)

/** The benchmark's JVM side. It runs one workload against the program's
  * public entry points, from outside: `Q.fn` (plan build),
  * `queryExecution.executedPlan` (Catalyst planning),
  * `queryExecution.toRdd.count()` (execution) and `EtlJob.runOnce` with
  * fetch and sink callbacks defined here. It writes everything it
  * measured as one JSON document; `run.py` turns that into metrics and
  * checks the outputs.
  *
  * Arguments are `key=value` pairs: kind (queries|etl), data, out,
  * trace (0|1), seed, cpus, launched_ms and, for queries, names
  * (comma-separated), passes and dump (directory for the warm-up outputs
  * the correctness gate compares); for ETL, warehouse, warm_ticks and
  * ticks (the measured count).
  */
object Main {
  val MB: Double = 1024.0 * 1024.0

  def now: Long = System.nanoTime()
  def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  /** Fixed-work single-thread CPU probe (xorshift steps, no allocation):
    * read next to the timings it tells a slow host from a slow program. */
  def cpuProbe(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val t = now
    var i = 0
    while (i < 100_000_000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val s = secs(t)
    if (x == 42) System.err.println("")
    s
  }

  def storage(sc: SparkContext): (Double, Int, Long) = {
    val cached = sc.getRDDStorageInfo.filter(_.isCached)
    (cached.map(i => i.memSize + i.diskSize).sum / MB, cached.length,
      cached.map(_.numCachedPartitions.toLong).sum)
  }

  def heapAfterGcMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val run = new Run(a)
    val json = try run.execute() finally run.stopSession()
    Files.writeString(Paths.get(a("out")), json, UTF_8)
  }
}

final class Run(a: Map[String, String]) {
  import Main._

  private val kind = a("kind")
  private val data = a("data")
  private val trace = a("trace") == "1"
  private val seed = a("seed").toLong
  private val cpus = a("cpus").toInt
  private val launchedMs = a("launched_ms").toLong

  private var spark: SparkSession = _
  private val layers = new Layers
  private val spans = ArrayBuffer[Span]()
  private val ops = ArrayBuffer[Op]()
  private var setupS = 0.0
  private var primeS = 0.0
  private val extra = ArrayBuffer[(String, String)]() // raw JSON fields
  private var warmupS = 0.0
  private var baseline = (0.0, 0, 0L) // storage when the measured region starts
  private var tracing = false

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def span[T](op: Int, name: String, parent: String)(body: => T): T = {
    val s = now
    try body finally if (tracing) spans += Span(op, name, parent, s, now)
  }

  private def attach(on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(layers.spark)
      spark.streams.addListener(layers)
    } else {
      spark.sparkContext.removeSparkListener(layers.spark)
      spark.streams.removeListener(layers)
    }

  /** Session start plus the priming a user pays before the first op.
    * Queries: `Tables.prime` and `Warm.prime`, which mark the shared
    * frames cached (the warm-up fills them). ETL: an empty warehouse. */
  private def setUp(): Unit = {
    spark = LocalRun.session(cpus)
    val tp = now
    if (kind == "queries") {
      Tables.prime(spark, data)
      Warm.prime(spark, data)
    }
    primeS = secs(tp)
  }

  /** Runs `step` over the names of passes 0 until `passes`. In a traced
    * run half the ops run with the listeners attached, and the gap to
    * their untraced counterparts is the tracing overhead. A repeatable
    * op (a query) runs twice in a row, traced and untraced in turn
    * order, because query ops still speed up from pass to pass while
    * the JIT warms; ETL ticks cannot repeat, so traced and untraced
    * ticks alternate (tick times are flat after the warm-up). A traced
    * run makes at least three passes. */
  private def measure(pass: Int => Seq[String], passes: Int, repeatable: Boolean,
                      step: (Int, Int, String) => Op): Double = {
    baseline = storage(spark.sparkContext)
    val t0 = now
    var id = 0
    def run(p: Int, n: String, traced: Boolean): Unit = {
      if (traced) {
        attach(true)
        tracing = true
        PerfbenchBus.drain(spark.sparkContext)
      }
      val before = if (traced) layers.snap() else Map.empty[String, Double]
      val op = step(id, p, n)
      ops += (if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        val after = layers.snap()
        val (mb, rdds, _) = storage(spark.sparkContext)
        attach(false)
        tracing = false
        op.copy(traced = true,
          layers = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) },
          pinnedMb = mb, cachedRdds = rdds)
      } else op)
      id += 1
    }
    var p = 0
    var go = true
    while (go) {
      val names = pass(p)
      names.zipWithIndex.foreach { case (n, i) =>
        if (!trace) run(p, n, traced = false)
        else if (repeatable) {
          val tracedFirst = (p + i) % 2 == 1
          run(p, n, tracedFirst)
          run(p, n, !tracedFirst)
        } else run(p, n, p % 2 == 1)
      }
      p += 1
      go = names.nonEmpty && (p < passes || (trace && p < 3))
    }
    secs(t0)
  }

  /** Set-up, warm-up, then the measured region. `setupS` runs from JVM
    * launch until the workload is ready: after the warm-up. */
  def execute(): String = {
    setUp()
    val tw = now
    if (kind == "queries") warmQueries() else warmEtl()
    warmupS = secs(tw)
    setupS = (System.currentTimeMillis() - launchedMs) / 1e3
    val probeStart = cpuProbe()
    val measured = if (kind == "queries") runQueries() else runEtl()
    val (baseMb, baseRdds, basePartitions) = baseline
    val (endMb, endRdds, _) = storage(spark.sparkContext)
    val heapMb = heapAfterGcMb()
    val tc = now
    checks()
    val checkS = secs(tc)
    val probeEnd = cpuProbe()
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
    def obj(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString("{", ",", "}")
    def opJson(o: Op): String =
      s"""{"id":${o.id},"name":${Json.str(o.name)},"pass":${o.pass},"traced":${o.traced},""" +
        s""""ok":${o.ok},"error":${Json.str(o.error)},"result":${Json.str(o.result)},""" +
        s""""seconds":${num(o.seconds)},"parts":${obj(o.parts)},"rows":${o.rows},""" +
        s""""layers":${obj(o.layers)},"pinned_mb":${num(o.pinnedMb)},"cached_rdds":${o.cachedRdds}}"""
    val spansJson = spans.map { s =>
      s"""{"op":${s.op},"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[", ",\n", "]")
    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cpus" -> cpus.toString,
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "seed" -> seed.toString,
      "cpu_probe_start_s" -> num(probeStart),
      "cpu_probe_end_s" -> num(probeEnd))
    val fields = Seq(
      "host" -> host.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"),
      "setup_s" -> num(setupS),
      "prime_s" -> num(primeS),
      "warmup_s" -> num(warmupS),
      "measured_s" -> num(measured),
      "checks_s" -> num(checkS),
      "heap_retained_mb" -> num(heapMb),
      "storage_start_mb" -> num(baseMb),
      "storage_start_rdds" -> baseRdds.toString,
      "storage_start_partitions" -> basePartitions.toString,
      "storage_end_mb" -> num(endMb),
      "storage_end_rdds" -> endRdds.toString,
      "trigger_s" -> arr(layers.triggerSeconds),
      "warmup_ticks" -> warmTicks.map(opJson).mkString("[", ",\n", "]"),
      "ops" -> ops.map(opJson).mkString("[", ",\n", "]"),
      "spans" -> spansJson) ++ extra
    fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{\n", ",\n", "\n}\n")
  }

  private var checks: () => Unit = () => ()

  // ---- query workloads ---------------------------------------------------

  private val names = a.get("names").toSeq.flatMap(_.split(","))
  private lazy val dump = Paths.get(a("dump"))

  /** Every query once, cold, its output written for the correctness
    * gate; then one untimed pass of ops, because the first warm passes
    * still run markedly slower while the JIT catches up. */
  private def warmQueries(): Unit = {
    val warm = names.map { n =>
      val err = try { queryFns(n)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(dump.resolve(n).toString); "" }
      catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
      n -> err
    }
    extra += "warmup_errors" -> warm.map { case (n, e) => s"${Json.str(n)}:${Json.str(e)}" }
      .mkString("{", ",", "}")
    names.foreach(execOp(-1, -1, _))
  }

  private def runQueries(): Double = {
    // whole passes, so every run measures the same mix of queries; pass
    // p starts at query p, so each query follows a different one in
    // each pass, and the order is the same in every run
    val passes = a("passes").toInt
    val order = (p: Int) => names.drop(p % names.size) ++ names.take(p % names.size)
    val measured = measure(order, passes, repeatable = true, execOp)
    checks = () => {
      // generated after the measured region: several oracles fit a
      // model or integrate a grid when first forced
      val oracles = SparkEntry.oracleSqlFor(names.toSet)
      Files.writeString(dump.resolve("oracle_sql.json"),
        oracles.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",\n", "}"), UTF_8)
    }
    measured
  }

  private lazy val queryFns = SparkEntry.queries

  /** One query op: plan build, Catalyst planning, execution. */
  private def execOp(id: Int, p: Int, n: String): Op = {
    Bench.RefitResets.get(n).foreach(_())
    val t0 = now
    try {
      val df = span(id, "build", "op")(queryFns(n)(spark, data))
      val t1 = now
      span(id, "plan", "op")(df.queryExecution.executedPlan)
      val t2 = now
      val rows = span(id, "exec", "op")(df.queryExecution.toRdd.count())
      val t3 = now
      if (tracing) spans += Span(id, "op", "", t0, t3)
      Op(id, n, p, false, ok = true, "", "", (t3 - t0) / 1e9,
        Seq("build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
          "exec_s" -> (t3 - t2) / 1e9), rows, Map.empty, 0, 0)
    } catch {
      case e: Throwable =>
        Op(id, n, p, false, ok = false, String.valueOf(e.getMessage).take(300), "",
          secs(t0), Seq.empty, -1, Map.empty, 0, 0)
    }
  }

  // ---- ETL ticks -----------------------------------------------------------

  private lazy val ticks: Seq[Path] =
    Files.list(Paths.get(data)).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("tick-")).sortBy(_.getFileName.toString)
  private lazy val warehouse = Paths.get(a("warehouse"))
  private val warmTicks = ArrayBuffer[Op]()

  /** One `EtlJob.runOnce` into the current warehouse, with the fetch
    * and sink callbacks timed as the tick's parts. */
  private def tick(id: Int, pass: Int, file: Path): Op = {
    val facts = warehouse.resolve("station_status").toString
    val dims = warehouse.resolve("station_info").toString
    val parts = scala.collection.mutable.LinkedHashMap(
      "fetch_s" -> 0.0, "keys_read_s" -> 0.0, "sink_write_s" -> 0.0)
    def timed[T](part: String)(body: => T): T = {
      val t = now
      try span(id, part.stripSuffix("_s"), "tick")(body) finally parts(part) += secs(t)
    }
    val sinks = EtlJob.Sinks(
      appendFacts = df => timed("sink_write_s")(df.write.mode("append").parquet(facts)),
      insertDims = df => timed("sink_write_s")(df.write.mode("append").parquet(dims)),
      existingDimKeys = () => timed("keys_read_s") {
        if (Files.exists(Paths.get(dims))) spark.read.parquet(dims)
        else spark.emptyDataset[String](Encoders.STRING).toDF("station_no")
      })
    val fetch = () => timed("fetch_s") {
      spark.createDataset(Files.readAllLines(file, UTF_8))(Encoders.STRING)
    }
    val t0 = now
    try {
      // one attempt: a failed fetch is a failed op here, not a retry
      val r = EtlJob.runOnce(spark, fetch, sinks, attempts = 1, backoffMs = 0)
      val s = secs(t0)
      if (tracing) spans += Span(id, "tick", "", t0, now)
      Op(id, file.getFileName.toString, pass, false, ok = true, "",
        s"${r.factsAppended},${r.dimsInserted}", s,
        parts.toSeq :+ ("transform_s" -> (s - parts.values.sum)), r.factsAppended,
        Map.empty, 0, 0)
    } catch {
      case e: Throwable =>
        Op(id, file.getFileName.toString, pass, false, ok = false,
          String.valueOf(e.getMessage).take(300), "", secs(t0), Seq.empty, -1, Map.empty, 0, 0)
    }
  }

  /** The first tick, into the empty warehouse, runs several times slower
    * than a warm one, and the next few still run slower while the JIT
    * catches up: all of them are warm-up. */
  private def warmEtl(): Unit =
    ticks.take(a("warm_ticks").toInt).zipWithIndex.foreach { case (f, i) =>
      warmTicks += tick(-1 - i, -1, f) }

  private def runEtl(): Double = {
    // a fixed tick count, so every run measures the same ticks
    val measuredTicks = a("ticks").toInt
    val rest = ticks.drop(warmTicks.size)
    val measured = measure(p => rest.lift(p).toSeq.map(_.toString), measuredTicks,
      repeatable = false, (id, p, f) => tick(id, p, Paths.get(f)))
    checks = () => {
      import org.apache.spark.sql.functions._
      val st = spark.read.parquet(warehouse.resolve("station_status").toString)
      val r = st.agg(count(lit(1)), countDistinct(col("station_no"), col("record_time")),
        count(when(col("bikes_available").isNull, 1)),
        count(when(col("spaces_available").isNull, 1)),
        date_format(min(col("record_time")), "yyyy-MM-dd HH:mm:ss"),
        date_format(max(col("record_time")), "yyyy-MM-dd HH:mm:ss")).head()
      val si = spark.read.parquet(warehouse.resolve("station_info").toString)
      val d = si.agg(count(lit(1)), countDistinct(col("station_no")),
        count(when(col("total_spaces").isNull, 1))).head()
      extra += "warehouse" -> (s"""{"facts":${r.getLong(0)},"fact_keys":${r.getLong(1)},""" +
        s""""null_bikes":${r.getLong(2)},"null_spaces":${r.getLong(3)},""" +
        s""""min_record_time":${Json.str(r.getString(4))},"max_record_time":${Json.str(r.getString(5))},""" +
        s""""dims":${d.getLong(0)},"dim_keys":${d.getLong(1)},"null_total_spaces":${d.getLong(2)},""" +
        s""""ticks_loaded":${warmTicks.count(_.ok) + ops.count(_.ok)}}""")
    }
    measured
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
