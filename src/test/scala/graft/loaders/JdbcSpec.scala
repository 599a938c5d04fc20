package graft.loaders

import java.nio.file.Files
import java.util.Properties

import graft.SparkSpec

/** S3 (JDBC scan) + S7 (JDBC append) exercised against an embedded
  * Derby database (ships with Spark for the Hive metastore) — the same
  * `spark.read.jdbc` / `df.write.jdbc` path a MySQL warehouse uses,
  * minus the network. */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private lazy val url = {
    val dir = Files.createTempDirectory("graft-derby").resolve("db")
    s"jdbc:derby:$dir;create=true"
  }
  private def props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  test("S7 append + S3 scan round-trip through a real JDBC database") {
    val dim = Seq(("s1", "Daan", 28), ("s2", "Xinyi", 40)).toDF("station_no", "district", "total_spaces")
    Readers.appendJdbc(dim, url, "station_info", props)
    // append twice more rows — mode("append") must not clobber
    Readers.appendJdbc(Seq(("s3", "Wenshan", 22)).toDF("station_no", "district", "total_spaces"),
      url, "station_info", props)
    val back = Readers.readJdbc(spark, url, "station_info", props)
    assert(back.count() === 3)
    assert(back.columns.toSeq.map(_.toLowerCase) === Seq("station_no", "district", "total_spaces"))
    val keys = back.select("station_no").as[String].collect().toSet
    assert(keys === Set("s1", "s2", "s3"))
  }

  // shared fixture: seeded at most once, by WHICHEVER test touches it
  // first — the partitioned and predicate scans both read it, and an
  // isolated or reordered run must not depend on a sibling test's
  // appendJdbc side effect (r12 ADVICE)
  private lazy val seedStatusFacts: Unit = {
    val facts = (1 to 97).map(i => (i.toLong, s"s${i % 7}", i * 2))
      .toDF("id", "station_no", "bikes")
    Readers.appendJdbc(facts, url, "status_facts", props)
  }

  test("S3 partitioned scan: numPartitions concurrent strides, no row lost or duplicated") {
    seedStatusFacts
    val back = Readers.readJdbcPartitioned(spark, url, "status_facts",
      "id", lowerBound = 1L, upperBound = 97L, numPartitions = 8, props)
    // the scan IS split: 8 tasks = 8 connections
    assert(back.rdd.getNumPartitions === 8)
    assert(back.count() === 97)
    assert(back.select("id").as[Long].collect().toSet === (1L to 97L).toSet)
    // out-of-bounds rows are still read (bounds tune parallelism only)
    val narrow = Readers.readJdbcPartitioned(spark, url, "status_facts",
      "id", lowerBound = 40L, upperBound = 60L, numPartitions = 4, props)
    assert(narrow.count() === 97)
  }

  test("S3 predicate scan: disjoint hand splits, one connection each") {
    seedStatusFacts
    val back = Readers.readJdbcPredicates(spark, url, "status_facts",
      // predicates are VERBATIM warehouse SQL — quote identifiers the
      // way the warehouse stored them (Spark's writer quotes, so Derby
      // holds lowercase "id", not the unquoted-default uppercase ID)
      Seq("MOD(\"id\", 3) = 0", "MOD(\"id\", 3) = 1", "MOD(\"id\", 3) = 2"),
      props)
    assert(back.rdd.getNumPartitions === 3)
    assert(back.count() === 97)
    assert(back.select("id").as[Long].collect().toSet === (1L to 97L).toSet)
  }

  test("S3 partitioned scan pushes WHERE predicates to the database (r12 verdict stretch)") {
    seedStatusFacts
    val scan = Readers.readJdbcPartitioned(spark, url, "status_facts",
      "id", lowerBound = 1L, upperBound = 97L, numPartitions = 4, props)
      .filter($"id" > 90L)
    // the filter must reach the JDBC relation (compiled into each
    // partition's remote WHERE clause), not run as a Spark-side Filter
    // over a full-table fetch — at warehouse scale that is the
    // difference between reading 7 rows and reading the table
    val plan = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(id,90)"),
      s"expected GreaterThan(id,90) in PushedFilters, plan was:\n$plan")
    // and the pushed scan still returns exactly the right rows
    assert(scan.select("id").as[Long].collect().toSet === (91L to 97L).toSet)
  }

  test("EtlJob ticks into a JDBC warehouse: dims before facts, counts from the writes") {
    def record(sno: String, t: String) =
      s"""{"sno":"$sno","sna":"n$sno","sarea":"d1","latitude":25.04,"longitude":121.52,
         |"Quantity":30,"available_rent_bikes":5,"available_return_bikes":25,
         |"srcUpdateTime":"$t"}""".stripMargin.replace("\n", "")
    var dimsCreated = false
    val sinks = graft.ingest.EtlJob.Sinks(
      appendFacts = Readers.appendJdbc(_, url, "etl_status", props),
      insertDims = df => { Readers.appendJdbc(df, url, "etl_info", props); dimsCreated = true },
      existingDimKeys = () =>
        if (dimsCreated) Readers.readJdbc(spark, url, "etl_info", props)
        else Seq.empty[String].toDF("station_no"))
    def tick(rows: String*) = graft.ingest.EtlJob.runOnce(spark, () => rows.toDS(), sinks)
    assert(tick(record("s1", "2025-12-10 15:00:00"), record("s1", "2025-12-10 15:00:00"),
      record("s2", "2025-12-10 15:00:00")) === graft.ingest.EtlJob.BatchResult(2, 2))
    assert(tick(record("s1", "2025-12-10 15:10:00"), record("s3", "2025-12-10 15:10:00")) ===
      graft.ingest.EtlJob.BatchResult(2, 1))
    assert(Readers.readJdbc(spark, url, "etl_status", props).count() === 4)
    assert(Readers.readJdbc(spark, url, "etl_info", props)
      .select("station_no").as[String].collect().sorted.toSeq === Seq("s1", "s2", "s3"))
  }

  test("S3 dedup-set scan shape: select one column from the warehouse (etl_job.py:120-121)") {
    // own table — not coupled to the round-trip test's station_info
    Readers.appendJdbc(
      Seq(("s1", "Daan"), ("s2", "Xinyi"), ("s3", "Wenshan")).toDF("station_no", "district"),
      url, "station_dim", props)
    val existing = Readers.readJdbc(spark, url, "station_dim", props)
      .select("station_no")
    // the J4 new-dims collect consumes exactly this shape
    val incoming = Seq("s2", "s9").toDF("station_no")
    val newOnly = graft.ingest.IngestBatch.newDims(incoming, existing, "station_no")
      .map(_.getString(0)).toSet
    assert(newOnly === Set("s9"))
  }
}
