package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The serving-path query shapes (`API/pastapi.py:168-219`) as plain
  * Dataset queries over Silver/Gold tables. Each has a per-key form (one
  * answer, filtered first) and an all-keys form built from the same
  * expressions, which [[ServeIndex]] runs once to answer every key from
  * memory.
  *
  * Time is injected (`asOfDate`) rather than `now()` — SURVEY §7.5's
  * determinism rule.
  */
object ServeQueries {

  /** Point lookup by tracking number returning shipment info + its latest
    * checkpoint (reference `/predict/tracking/`, `pastapi.py:173-191`).
    * On a bucketed/Z-ordered layout this is a single-partition probe. */
  def trackingLookup(silver: DataFrame, trackingNumber: String): DataFrame =
    latestCheckpoints(silver.filter(col("tracking_number") === trackingNumber))

  /** [[trackingLookup]] for every tracking number: one row each, its
    * latest checkpoint. */
  def latestCheckpoints(silver: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tracking_number"))
      .orderBy(col("checkpoint_time").desc, col("checkpoint_message"), col("checkpoint_city"))
    silver
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("tracking_number"), col("courier"), col("status"),
        col("origin_country"), col("destination_country"),
        col("shipment_weight"), col("delivery_days"), col("delivery_status"),
        col("checkpoint_city").as("last_checkpoint_city"),
        col("checkpoint_message").as("last_checkpoint_message"),
        col("checkpoint_time").as("last_checkpoint_time"))
  }

  /** Per-country delivery expectation (reference `/predict/country/`,
    * `pastapi.py:204-210`): mean delivery days over shipments to a
    * destination (case-insensitive match), plus the projected delivery
    * date from `asOfDate`. Integer sums keep the mean deterministic. */
  def countryExpectation(silver: DataFrame, country: String, asOfDate: String): DataFrame =
    silver
      .filter(upper(col("destination_country")) === country.toUpperCase)
      .dropDuplicates("tracking_number")
      .agg(shipmentCount, shipmentDays)
      .select(lit(country.toUpperCase).as("destination_country") +: expectation(asOfDate): _*)

  /** [[countryExpectation]] for every destination at once, one row per
    * `upper(destination_country)` (the key the per-country filter
    * compares). */
  def countryExpectations(silver: DataFrame, asOfDate: String): DataFrame =
    silver
      .withColumn("country_key", upper(col("destination_country")))
      .dropDuplicates("country_key", "tracking_number")
      .groupBy(col("country_key"))
      .agg(shipmentCount, shipmentDays)
      .select(col("country_key").as("destination_country") +: expectation(asOfDate): _*)

  private def shipmentCount: Column = count(lit(1)).as("n_shipments")
  private def shipmentDays: Column = sum(col("delivery_days")).as("sum_days")

  private def expectation(asOfDate: String): Seq[Column] = Seq(
    col("n_shipments"),
    round(col("sum_days").cast("double") / col("n_shipments"), 2).as("avg_delivery_days"),
    date_add(to_date(lit(asOfDate)),
      round(col("sum_days").cast("double") / col("n_shipments"), 0).cast("int"))
      .as("expected_delivery_date"))
}
