package graft

import java.nio.file.Files

/** [[Profile.run]] at sf0.001 on one batch query (j1) and three streams
  * (st8 and st1 to memory sinks, st7 through foreachBatch): every plan
  * record lands in the given directory, only the streams' carry the
  * micro-batch section, each section holds a source-scanning batch
  * (st1's trailing `<empty>`-source batch must not win), a memory
  * sink's holds its batch plan once, st7's holds its body's nested
  * executions, every measured run is attributed its
  * Spark jobs, and an unknown name fails before any work starts. */
class ProfileSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val batch = "j1_enrich_group_stats"
  private val stream = "st8_stream_distinct_sketch"
  private val racy = "st1_stream_watermark_dedup"
  private val foreachBatch = "st7_stream_substring_dedup"

  test("Profile.run writes one plan record per query, captures the " +
    "stream's micro-batch plan, and counts each measured run's jobs") {
    val out = Files.createTempDirectory("graft_profile_")
    try {
      val names = Seq(batch, stream, racy, foreachBatch)
      val results = Profile.run(spark, sfDir, names, out)
      assert(results.map(_.name) === names)
      val plans = results.map(r => r.name -> Files.readString(r.planFile)).toMap
      assert(results.forall(r => r.planFile.getParent == out))
      assert(!plans(batch).contains(Profile.MicroBatchSection))
      assert(plans(batch).startsWith("== Physical Plan =="), plans(batch))
      def section(name: String): String = {
        val plan = plans(name)
        plan.take(plan.indexOf(Profile.FinalReadSection))
      }
      for (name <- Seq(stream, racy, foreachBatch)) {
        assert(plans(name).contains(Profile.MicroBatchSection), plans(name))
        assert(section(name).contains(Profile.FileScan), plans(name))
      }
      // a memory sink's batch roots only the collect that re-renders
      // the batch plan: the record holds that plan once
      for (name <- Seq(stream, racy))
        assert(!section(name).contains(Profile.NestedSection), plans(name))
      // st7's foreachBatch body appends the cleaned batch to its sink
      assert(section(foreachBatch).contains(Profile.NestedSection), plans(foreachBatch))
      assert(section(foreachBatch).contains("InsertIntoHadoopFsRelationCommand"),
        plans(foreachBatch))
      for (r <- results) {
        assert(r.runs.size === Profile.Runs)
        assert(r.runs.forall(_.jobs > 0), s"${r.name}: ${r.runs}")
      }
      val st8 = results.find(_.name == stream).get
      assert(st8.build.triggers.nonEmpty, "st8's build ran no stream trigger")
      assert(results.find(_.name == batch).get.build.triggers.isEmpty)
    } finally LocalRun.deleteRecursively(out)
  }

  test("Profile.run rejects an unknown query name before any work") {
    val out = Files.createTempDirectory("graft_profile_")
    try {
      val e = intercept[IllegalArgumentException](
        Profile.run(spark, sfDir, Seq(batch, "no_such_query"), out))
      assert(e.getMessage.contains("no_such_query"))
      assert(!Files.list(out).findAny().isPresent)
    } finally LocalRun.deleteRecursively(out)
  }
}
