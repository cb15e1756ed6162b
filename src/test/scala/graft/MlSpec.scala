package graft

import graft.gen.BronzeGenerator
import graft.ml.DeliveryModel
import graft.silver.SilverTransform

/** MLlib delivery model: trains, evaluates, and the frozen indexers keep
  * predictions stable on filtered subsets (the reference's per-request
  * refit bug, fixed here — SURVEY §7.5). */
class MlSpec extends SparkTestBase {
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  test("model learns the status→delivery_status rule (near-perfect held-out accuracy)") {
    val silver = SilverTransform.transform(
      BronzeGenerator.shipments(spark, 2000, 42L, "2024-01-01"), "2024-01-01", ts)
    val result = DeliveryModel.train(DeliveryModel.features(silver))
    assert(result.accuracy > 0.95, s"accuracy ${result.accuracy}")
  }

  test("model save/load round trip gives identical predictions (S11 artifact store)") {
    val silver = SilverTransform.transform(
      BronzeGenerator.shipments(spark, 500, 42L, "2024-01-01"), "2024-01-01", ts)
    val feats = DeliveryModel.features(silver).cache()
    val model = DeliveryModel.train(feats).model
    val dir = tempDir("graft_model_").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = org.apache.spark.ml.PipelineModel.load(dir)
    val a = DeliveryModel.predict(model, feats).select("courier", "status", "predicted_status")
    val b = DeliveryModel.predict(loaded, feats).select("courier", "status", "predicted_status")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    feats.unpersist()
  }

  test("predictions on a filtered subset equal the full-frame predictions (no refit drift)") {
    val silver = SilverTransform.transform(
      BronzeGenerator.shipments(spark, 1000, 42L, "2024-01-01"), "2024-01-01", ts)
    val feats = DeliveryModel.features(silver).cache()
    val model = DeliveryModel.train(feats).model
    val full = DeliveryModel.predict(model, feats)
      .select("courier", "status", "predicted_status")
    val subset = DeliveryModel.predict(model, feats.filter($"courier" === "DHL"))
      .select("courier", "status", "predicted_status")
    // the reference refits encoders per filtered subset, shifting encodings;
    // a frozen PipelineModel must give identical rows for the overlap
    assert(subset.exceptAll(full.filter($"courier" === "DHL")).count() === 0)
    feats.unpersist()
  }
}
