package graft

import java.nio.file.Files

/** [[Profile.run]] at sf0.001 on one batch query (j1) and one stream
  * (st8): both plan records land in the given directory, only the
  * stream's carries the micro-batch capture, every measured run is
  * attributed its Spark jobs, and an unknown name fails before any
  * work starts. */
class ProfileSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val batch = "j1_enrich_group_stats"
  private val stream = "st8_stream_distinct_sketch"

  test("Profile.run writes one plan record per query, captures the " +
    "stream's micro-batch plan, and counts each measured run's jobs") {
    val out = Files.createTempDirectory("graft_profile_")
    try {
      val results = Profile.run(spark, sfDir, Seq(batch, stream), out)
      assert(results.map(_.name) === Seq(batch, stream))
      val plans = results.map(r => r.name -> Files.readString(r.planFile)).toMap
      assert(results.forall(r => r.planFile.getParent == out))
      assert(!plans(batch).contains(Profile.MicroBatchSection))
      assert(plans(batch).startsWith("== Physical Plan =="), plans(batch))
      assert(plans(stream).contains(Profile.MicroBatchSection), plans(stream))
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
