package graft.ingest

import java.sql.Timestamp

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Unit tests mirroring the reference's own pytest suite
  * (tests/test_etl.py:18-57) plus the P3/P5 guards. */
class IngestBatchSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureJson = Seq(
    """{"sno":"500101001","sna":"YouBike2.0_Station","sarea":"Daan",
      |"latitude":25.026,"longitude":121.543,"Quantity":"28",
      |"available_rent_bikes":10,"available_return_bikes":18,
      |"srcUpdateTime":"2024-03-01 08:30:00"}""".stripMargin.replaceAll("\n", ""))

  /** The snapshot check's row over the declared parse of `records`. */
  private def checked(records: Seq[String]) = {
    val checks = IngestBatch.SnapshotCheck
    IngestBatch.parseDeclared(records.toDS()).agg(checks.head, checks.tail: _*).head()
  }

  test("empty extract raises (F7, test_etl.py:18-21)") {
    assertThrows[IngestBatch.EmptyBatchException](
      IngestBatch.requireSnapshot(checked(Nil), "snapshot"))
  }

  test("missing required columns raise with every missing name (test_etl.py:24-28)") {
    val e = intercept[IngestBatch.MissingColumnsException](
      IngestBatch.requireSnapshot(checked(Seq("""{"sno":"1","sna":"x",""" +
        """"available_rent_bikes":1,"available_return_bikes":2,"srcUpdateTime":"t"}""")),
        "snapshot"))
    assert(e.missing.toSet === Set("sarea", "latitude", "longitude", "Quantity"))
    // a batch of fieldless records is missing every key, not empty
    val all = intercept[IngestBatch.MissingColumnsException](
      IngestBatch.requireSnapshot(checked(Seq("{}", "{}")), "snapshot"))
    assert(all.missing === IngestBatch.RequiredSnapshot)
  }

  /** The tick's parse: declared schema, required keys as columns. */
  private def declared(records: Seq[String]) =
    IngestBatch.snapshot(IngestBatch.parseDeclared(records.toDS()))

  test("one-row fixture transforms to exact dim+fact shapes (test_etl.py:31-57)") {
    val raw = declared(fixtureJson)
    val (dim, fact) = (IngestBatch.dims(raw), IngestBatch.facts(raw))
    assert(dim.columns.toSeq === Seq("station_no", "name_tw", "district", "lat", "lng", "total_spaces"))
    assert(fact.columns.toSeq === Seq("station_no", "bikes_available", "spaces_available", "record_time"))
    val d = dim.collect()(0)
    assert(d.getAs[String]("station_no") === "500101001")
    assert(d.getAs[Int]("total_spaces") === 28)
    assert(d.getAs[Double]("lat") === 25.026)
    val f = fact.collect()(0)
    assert(f.getAs[Int]("bikes_available") === 10)
    // Taipei 08:30 wall → 00:30 UTC (the +8 h trap, session TZ UTC)
    assert(f.getAs[Timestamp]("record_time") === Timestamp.valueOf("2024-03-01 00:30:00"))
  }

  test("lenient cast coerces malformed numerics to null, not an ANSI error (P5, 01:65)") {
    val dim = IngestBatch.dims(declared(Seq(fixtureJson.head.replace("\"28\"", "\"N/A\""))))
    assert(dim.collect()(0).isNullAt(dim.columns.indexOf("total_spaces")))
  }

  test("lenientInt: one rule for any input type; a fractional value is null") {
    val out = Seq(("28", 28L, 28.0, "28.5", 28.5, " 28 ")).toDF("s", "l", "d", "fs", "fd", "sp")
      .select(Seq("s", "l", "d", "fs", "fd", "sp").map(c => IngestBatch.lenientInt(col(c))): _*)
      .head()
    assert(out.toSeq === Seq(28, 28, null, null, null, 28))
  }

  test("snapshot check: every line counts; a key held as null counts as present") {
    val row = checked(Seq("""{"sno":"1","sna":null}""", """{"sno":"2"}""", "not json"))
    assert(row.getLong(0) === 3)
    assert(row.getBoolean(1) && row.getBoolean(2) && !row.getBoolean(3))
    val e = intercept[IngestBatch.MissingColumnsException](IngestBatch.requireSnapshot(row, "x"))
    assert(e.missing === IngestBatch.RequiredSnapshot.drop(2))
  }

  test("renameByMap: renames only existing sources and never clobbers an existing target (P3, 03:57-63)") {
    val df = Seq((1, 2)).toDF("sno", "station_no")
    val out = IngestBatch.renameByMap(df, Map(
      "sno" -> "station_no", // target exists → skip
      "absent" -> "whatever", // source missing → skip
      "station_no" -> "sid")) // normal rename
    assert(out.columns.toSeq === Seq("sno", "sid"))
  }

  test("dim dedup keeps one row per station; fact dedup drops unique-key replays (A8+S8)") {
    val raw = declared(fixtureJson ++ fixtureJson)
    val existing = Seq.empty[String].toDF("station_no")
    assert(IngestBatch.newDims(IngestBatch.dims(raw), existing, "station_no").size === 1)
    val fact = IngestBatch.facts(raw)
    assert(fact.count() === 2)
    assert(IngestBatch.dedupFacts(fact).count() === 1)
  }

  test("newDims inserts only unseen stations (J4, etl_job.py:121-122)") {
    val incoming = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("station_no", "x")
    val existing = Seq(("b", 99)).toDF("station_no", "y")
    val out = IngestBatch.newDims(incoming, existing, "station_no").map(_.getString(0)).toSet
    assert(out === Set("a", "c"))
  }

  test("newDims: duplicated existing keys change nothing; first row per key") {
    val incoming = Seq(("a", 1), ("b", 2), ("c", 3), ("c", 4), ("a", 5)).toDF("station_no", "x")
    val existing = Seq("b", "b", "c", "c", "c", "z").map(k => (k, 0)).toDF("station_no", "y")
    val out = IngestBatch.newDims(incoming, existing, "station_no")
    assert(out.map(r => (r.getString(0), r.getInt(1))) === Seq(("a", 1)))
    assert(IngestBatch.localFrame(spark, out, incoming.schema).rdd.getNumPartitions === 1)
  }

  test("newDims: a null key matches no existing key and keeps one row; no new row, no rows") {
    val incoming = Seq[(String, Int)]((null, 1), (null, 2), ("b", 3)).toDF("station_no", "x")
    val existing = Seq[String](null, "b").toDF("station_no")
    assert(IngestBatch.newDims(incoming, existing, "station_no").map(_.getInt(1)) === Seq(1))
    assert(IngestBatch.newDims(incoming.where("x = 3"), existing, "station_no").isEmpty)
  }
}
