package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. One session per JVM
  * (tests fork once, see build.sbt) — getOrCreate makes every suite
  * reuse it, so the suite cost is one 2-3 s startup, not one per file.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // fail tests on ANY encoder/expression codegen compile failure
    // instead of Spark's default silent interpreted fallback — a
    // Janino error in a native expression or encoder would otherwise
    // hide in megabytes of log while quietly dropping the codegen
    // path the library's performance claims rest on (production
    // sessions keep the default FALLBACK behavior)
    .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    // mirror LocalRun.session's subset co-partitioning leniency: the
    // plan-audit exchange pins are generated under LocalRun.session,
    // so the test session must plan joins identically
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    .config("spark.ui.enabled", "false")
    .config(LocalRun.LocalFsConf)
    .getOrCreate()
}
