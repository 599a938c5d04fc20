package graft.ml

import java.nio.file.Files

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.feature.MinMaxScalerModel

import graft.SparkSpec

/** S10 ML-artifact sink/source (SURVEY §2.1, reference 05:413-423 +
  * api/app/main.py:100-116): the reference pickles model weights,
  * scaler, and mapping dicts; the engine equivalents are spark.ml
  * MLWritable persistence and small mapping DataFrames. */
class ModelPersistenceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp = Files.createTempDirectory("graft-model").toString

  test("fitted OLS pipeline save/load round-trips predictions (S10)") {
    val df = Seq((1.0, 2.0), (2.0, 4.1), (3.0, 5.9), (4.0, 8.2))
      .toDF("x", "y")
    val model = Models.olsFit(df, "y ~ x")
    val path = s"$tmp/ols"
    model.write.overwrite().save(path)
    val back = PipelineModel.load(path)
    val orig = model.transform(df).select("prediction").as[Double].collect()
    val loaded = back.transform(df).select("prediction").as[Double].collect()
    assert(orig.zip(loaded).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("MinMaxScaler model save/load preserves originalMin/Max (scaler.pkl analog)") {
    val df = Seq(2.0, 4.0, 10.0).toDF("x")
    val model = Models.fitMinMax(df, Seq("x"))
    val path = s"$tmp/scaler"
    model.write.overwrite().save(path)
    val back = MinMaxScalerModel.load(path)
    assert(back.originalMin.toArray.toSeq === Seq(2.0))
    assert(back.originalMax.toArray.toSeq === Seq(10.0))
  }

  test("station mapping dict round-trips as a parquet mapping table (station_mapping.pkl analog)") {
    val mapping = graft.ops.Windows.denseId(
      Seq("s2", "s1", "s3").toDF("station_no"), "station_no", "idx")
    val path = s"$tmp/mapping"
    mapping.write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path).orderBy("idx")
      .as[(String, Int)].collect().toSeq
    assert(back === Seq(("s1", 0), ("s2", 1), ("s3", 2)))
  }
}
