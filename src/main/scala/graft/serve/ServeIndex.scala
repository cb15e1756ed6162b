package graft.serve

import scala.util.control.NonFatal

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.ml.DeliveryModel

/** One read route's answers, from an in-memory map built once, or from
  * the route's Spark query per request when the table has more than
  * `bound` keys or the build fails.
  *
  * The served frame and model do not change while a server runs, so
  * the map is built once, when the index is constructed, by running the
  * route's [[ServeQueries]] all-keys form as a batch. An answer is
  * therefore the one the per-key query gives: the same expressions, over
  * the same rows. A request that finds its key in the map runs no Spark
  * job; a miss runs none either.
  *
  * `build` collects at most `bound + 1` rows; more than `bound` means the
  * keys would not fit in memory, and `query` answers instead. A build
  * that throws (a driver out of memory, a result over
  * `spark.driver.maxResultSize`) is not retried: `query` answers every
  * request and [[state]] reports the error. `mapKey` turns a request key
  * into the map's key.
  */
final class ServeIndex[A] private[graft] (bound: Int, build: Int => Seq[(String, A)],
    query: String => Option[A], mapKey: String => String) {

  /** The map (None past the bound), or the error the build threw. */
  private val built: Either[Throwable, Option[Map[String, A]]] =
    try Right(Some(build(bound + 1)).filter(_.size <= bound).map(_.toMap))
    catch { case e @ (NonFatal(_) | _: OutOfMemoryError) => Left(e) }

  def lookup(key: String): Option[A] =
    built.toOption.flatten.fold(query(key))(_.get(mapKey(key)))

  /** `{"indexed":<entries>}` when built, `"spark"` when the keys exceed
    * the bound, `{"failed":<error>}` when the build threw. */
  def state: Any = built match {
    case Right(Some(m)) => ServeApi.Obj(Seq("indexed" -> m.size))
    case Right(None) => "spark"
    case Left(e) => ServeApi.Obj(Seq("failed" -> e.toString))
  }
}

object ServeIndex {

  /** Keys held in memory at most. Measured on the tracking index over
    * the sf0.1 silver (147k keys, JDK 17, heap used after full GCs): a
    * collected row of the answer's columns takes ~430 B, a map entry
    * ~420 B. At this bound the build therefore peaks near 0.45 GB of
    * driver heap (rows and map both live) and keeps ~0.2 GB. */
  private[graft] val DefaultBound = 500000

  /** A tracking answer: the six body fields, rendered. */
  final case class Tracking(courier: String, origin: String, destination: String,
      lastCheckpointCity: String, lastCheckpointMessage: String, predictedStatus: String)

  /** A country answer; null averages (no delivery days recorded) stay
    * `None`, and the route answers 422. */
  final case class Country(nShipments: Long, avgDeliveryDays: Option[Double],
      expectedDeliveryDate: Option[String])

  /** `/predict/tracking/`: the latest checkpoint of each tracking number
    * with the model's prediction (or the recorded `delivery_status`
    * without a model). A shipment with no prediction row (null
    * `delivery_status`, dropped from the feature frame) answers
    * `"UNKNOWN"`, as the per-key path does. */
  def tracking(silver: DataFrame, model: Option[PipelineModel],
      bound: Int): ServeIndex[Tracking] = {
    def answer(row: Row, predicted: String) = Tracking(str(row, "courier"),
      str(row, "origin_country"), str(row, "destination_country"),
      str(row, "last_checkpoint_city"), str(row, "last_checkpoint_message"), predicted)

    def build(limit: Int): Seq[(String, Tracking)] = {
      val latest = ServeQueries.latestCheckpoints(silver)
      val predicted = model match {
        case Some(m) =>
          val p = DeliveryModel.predict(m, DeliveryModel.features(silver))
            .select(col("tracking_number"), col("predicted_status"))
          latest.join(p, Seq("tracking_number"), "left")
        case None => latest.withColumn("predicted_status", col("delivery_status"))
      }
      // only the answer's columns reach the driver
      predicted
        .select(col("tracking_number"), col("courier"), col("origin_country"),
          col("destination_country"), col("last_checkpoint_city"),
          col("last_checkpoint_message"), col("predicted_status"))
        .limit(limit).collect().toSeq
        .map(r => r.getString(0) -> answer(r, str(r, "predicted_status")))
    }

    def query(id: String): Option[Tracking] =
      ServeQueries.trackingLookup(silver, id).collect().headOption.map { row =>
        val predicted = model match {
          case Some(m) =>
            // single-row inference through the SAME fitted pipeline as
            // batch scoring — encoders frozen at training time
            DeliveryModel.predict(m, DeliveryModel.features(
              silver.filter(silver("tracking_number") === id)))
              .select("predicted_status").collect()
              .headOption.map(_.getString(0)).getOrElse("UNKNOWN")
          case None => str(row, "delivery_status")
        }
        answer(row, predicted)
      }

    new ServeIndex(bound, build, query, identity)
  }

  /** `/predict/country/`: the delivery expectation of each destination,
    * keyed by `upper(destination_country)` and looked up by the
    * request's `toUpperCase`, the literal the per-key filter compares. */
  def country(silver: DataFrame, asOfDate: String, bound: Int): ServeIndex[Country] = {
    def answer(row: Row) = {
      val iAvg = row.fieldIndex("avg_delivery_days")
      val iDate = row.fieldIndex("expected_delivery_date")
      Country(row.getLong(row.fieldIndex("n_shipments")),
        if (row.isNullAt(iAvg)) None else Some(row.getDouble(iAvg)),
        if (row.isNullAt(iDate)) None else Some(row.getDate(iDate).toString))
    }

    def build(limit: Int): Seq[(String, Country)] =
      ServeQueries.countryExpectations(silver, asOfDate).limit(limit).collect().toSeq
        .map(r => r.getString(r.fieldIndex("destination_country")) -> answer(r))

    // a miss is an agg row with n_shipments=0 and null averages
    def query(country: String): Option[Country] =
      ServeQueries.countryExpectation(silver, country, asOfDate).collect().headOption
        .filter(r => r.getLong(r.fieldIndex("n_shipments")) > 0).map(answer)

    new ServeIndex(bound, build, query, _.toUpperCase)
  }

  /** A field as the response body shows it: null renders `"UNKNOWN"`. */
  private def str(row: Row, field: String): String = {
    val i = row.fieldIndex(field)
    if (row.isNullAt(i)) "UNKNOWN" else String.valueOf(row.get(i))
  }
}
