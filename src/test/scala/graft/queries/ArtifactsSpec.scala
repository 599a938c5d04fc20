package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.storage.StorageLevel

import graft.{Artifacts, Bench, ShufflePin, SparkEntry, SparkSpec}

/** [[Artifacts]], the one owner of the engine's fits, cached and
  * checkpointed frames and scratch trees: its key policy, nested builds,
  * replacement, the refit resets, and the stopped-session sweep; and
  * [[LlmQueries.partitionedCheckpoint]], which declares its partitioning
  * with AQE on, so no build swaps a session conf. */
class ArtifactsSpec extends SparkSpec {
  import SparkSpec.session.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  /** The same data under a dir key no other suite uses, so the entries
    * below are built here, not read from an earlier suite's builds. */
  private val freshDir = s"$sfDir/."

  private def entriesOf(scope: AnyRef) = Artifacts.keys.count(_._1 eq scope)

  test("sweepStoppedSessions forgets exactly the stopped sessions' entries") {
    // stopping a real extra session would stop the suite's shared
    // SparkContext, so the stopped predicate is injected
    val s2 = spark.newSession()
    LlmQueries.semanticDupsFrame(spark, sfDir)
    LlmQueries.semanticDupsFrame(s2, sfDir)
    val live = entriesOf(spark)
    assert(entriesOf(s2) >= 2)
    Artifacts.sweepStoppedSessions(isStopped = _ eq s2)
    assert(entriesOf(s2) === 0)
    assert(entriesOf(spark) === live)
    // the live path still works after a sweep
    assert(LlmQueries.semanticDupsFrame(spark, sfDir).count() > 0)
  }

  test("a build may read another artifact (each builds outside the registry's lock)") {
    LlmQueries.persistedIvfDir(spark, freshDir)   // reads trainedPqCodebooks
    LlmQueries.curationDir(spark, freshDir)       // reads the st7 gram-table frame
    LlmQueries.grownDupLabelsDir(spark, freshDir) // reads verifiedPairsShared
    val built = Artifacts.keys.filter(_._2 == freshDir).map(_._3).toSet
    val expected = Set("ivf_index", "pq_codebooks", "llm8_curation", "st7_gram_table",
      "st18_labels", "verified_pairs")
    assert(expected.subsetOf(built), s"built: $built")
  }

  test("a dir-keyed fit read through spark.newSession() is the same object") {
    val fit = MlQueries.fittedFit(spark, sfDir, MlQueries.M1F)
    assert(MlQueries.fittedFit(spark.newSession(), sfDir, MlQueries.M1F) eq fit)
  }

  test("building tx21 twice leaves exactly one partitioned checkpoint pinned") {
    def checkpoints(df: DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet
    val tx21 = SparkEntry.queries("tx21_gopher_repetition")
    // both frames stay referenced, so GC cannot release the first
    // checkpoint in the registry's place
    val builds = Seq(tx21(spark, sfDir), tx21(spark, sfDir))
    val Seq(first, second) = builds.map(checkpoints)
    assert(first.size === 1 && second.size === 1 && first != second)
    val pinned = (first ++ second).filter(spark.sparkContext.getPersistentRDDs.contains)
    assert(pinned === second, s"of ${builds.size} builds' checkpoints, pinned: $pinned")
  }

  test("replacing an entry deletes the prior tree; dropping it deletes the current one") {
    val a = Files.createTempDirectory("graft-artifacts-spec")
    val b = Files.createTempDirectory("graft-artifacts-spec")
    assert(Artifacts.replace(Artifacts.Jvm, "", "spec_slot")(_.tree(a)) === a)
    Artifacts.replace(Artifacts.Jvm, "", "spec_slot")(_.tree(b))
    assert(!Files.exists(a) && Files.exists(b))
    Artifacts.drop("spec_slot")
    assert(!Files.exists(b))
  }

  test("each RefitResets entry drops only its own artifacts") {
    MlQueries.fittedFit(spark, freshDir, MlQueries.M1F)
    MlQueries.fittedCentroids(spark, freshDir)
    LlmQueries.grownEmbIndexDir(spark, freshDir)
    LlmQueries.curationDir(spark, freshDir)
    LlmQueries.grownDupLabelsDir(spark, freshDir)
    assert(Bench.RefitResets.size === 5)
    val dropped = Bench.RefitResets.toSeq.sortBy(_._1).map { case (query, reset) =>
      val before = Artifacts.keys.toSet
      reset()
      val gone = before -- Artifacts.keys
      assert(gone.exists(_._2 == freshDir), s"$query dropped nothing it built")
      val names = gone.map(_._3)
      assert(names.size === 1, s"$query dropped $names")
      names.head
    }
    assert(dropped.distinct.size === 5, s"resets share artifacts: $dropped")
  }

  test("resetting x10 refits the ladder and leaves Warm.prime's model frame cached") {
    val warm = Seq(Analog.status(spark, sfDir), Analog.info(spark, sfDir),
      Analog.weather(spark, sfDir), RelationalQueries.enriched(spark, sfDir),
      RelationalQueries.clean(spark, sfDir), MlQueries.modelFrame(spark, sfDir))
    val uncached = warm.filter(_.storageLevel == StorageLevel.NONE)
    Warm.prime(spark, sfDir)
    try {
      val fit = MlQueries.fittedFit(spark, sfDir, MlQueries.M1F)
      Bench.RefitResets("x10_ols_ladder")()
      assert(MlQueries.modelFrame(spark, sfDir).storageLevel != StorageLevel.NONE)
      assert(!(MlQueries.fittedFit(spark, sfDir, MlQueries.M1F) eq fit))
    } finally uncached.foreach(_.unpersist())
  }

  test("queries/, Tables.scala and LocalRun.scala keep no memo maps of their own") {
    val main = Paths.get("src/main/scala/graft")
    val files = Files.walk(main.resolve("queries")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq ++
      Seq(main.resolve("Tables.scala"), main.resolve("LocalRun.scala"))
    assert(files.size > 2)
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("ConcurrentHashMap") || line.contains("computeIfAbsent")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "memoize through graft.Artifacts instead:\n" + offenders.mkString("\n"))
  }

  test("partitionedCheckpoint reports HashPartitioning(key, n) under AQE, and a " +
    "keyed aggregate join over it plans no shuffle and keeps its rows") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val docs = (0 until 200).map(i => (i.toLong % 37, i % 3, i)).toDF("doc_id", "g", "v")
    val pages = LlmQueries.partitionedCheckpoint(spark, freshDir, "spec_pages", docs, "doc_id")
    try {
      val declared = pages.queryExecution.analyzed.collect {
        case l: LogicalRDD => l.outputPartitioning
      }
      assert(declared.size == 1)
      declared.head match {
        case HashPartitioning(Seq(a: Attribute), m) =>
          assert(a.name == "doc_id" && m == n, declared)
        case p => fail(s"declared $p")
      }
      def keyed(f: DataFrame) =
        f.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .join(f.groupBy("doc_id").agg(sum("v").as("s")).hint("shuffle_hash"),
            Seq("doc_id"))
      assert(ShufflePin.shuffleCount(keyed(pages)) == 0,
        keyed(pages).queryExecution.executedPlan.toString)
      assert(ShufflePin.shuffleCount(keyed(docs)) > 0)
      assert(keyed(pages).collect().toSet == keyed(docs).collect().toSet)
    } finally Artifacts.drop("spec_pages")
  }

  test("a declaration that does not match the checkpoint's partition " +
    "count fails loudly") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ck = spark.range(50).toDF().repartition(n + 1, col("id")).localCheckpoint(true)
    try {
      val e = intercept[IllegalArgumentException](
        CheckpointBridge.hashPartitioned(ck, "id", n))
      assert(e.getMessage.contains(s"declared $n"))
    } finally graft.llm.Dedup.releaseCheckpoint(ck)
  }

  test("a bounded stateful stream and a tx21 build leave the session's " +
    "shuffle partitions and AQE setting unchanged for every other thread") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val want = keys.map(k => k -> spark.conf.get(k)).toMap
    val seen = mutable.LinkedHashSet[(String, String)]()
    val done = new AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!done.get()) {
        keys.foreach { k =>
          val v = spark.conf.get(k)
          if (v != want(k)) seen.synchronized { seen += (k -> v) }
        }
        Thread.sleep(1)
      })
    reader.start()
    try {
      assert(SparkEntry.queries("st3_stream_stateful_counts")(spark, sfDir).count() > 0)
      assert(SparkEntry.queries("tx21_gopher_repetition")(spark, sfDir).count() > 0)
    } finally {
      done.set(true)
      reader.join()
    }
    assert(seen.isEmpty, s"values other than the session's: $seen")
  }
}
