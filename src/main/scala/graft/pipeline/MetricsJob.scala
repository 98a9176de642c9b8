package graft.pipeline

import graft.ops.Exact
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Metrics stage — the reference's nine metric families
  * (`go-metric-elt.py`), each a pure DataFrame transform over the quality
  * `final` layer. One shared projection prefix (rename + revenue, A2) fans
  * out into nine independent DAGs, exactly like the reference — callers
  * should `.cache()` the prefix before materializing several outputs.
  *
  * Scale fixes over the reference, preserved-semantics (SURVEY.md §4):
  *  - A4's per-restaurant driver `approxQuantile` loop (N+1 Spark jobs) is
  *    ONE `percentile` aggregation + broadcast join;
  *  - A6's `agg(max).collect()` snapshot becomes a 1-row broadcast
  *    cross-join — no driver round-trip in the plan;
  *  - A7's nondeterministic `first(is_loyalty)` is pinned to `max`;
  *  - W4's global ranking runs over the aggregate (tiny), not raw rows.
  */
object MetricsJob {

  /** Union of the columns the nine metric families actually read — the
    * projection [[QualityJob]] caches for metrics consumers. Caching the
    * full 30-column canonical layer would pin ~3× the bytes downstream
    * aggregations touch; the final/quarantine WRITES stream the full rows
    * without caching instead.
    */
  val consumedColumns: Seq[String] = Seq(
    "restaurant_id", "user_id", "order_id", "lineitem_id", "date", "date_key",
    "time", "is_loyalty", "final_category",
    "item_price", "item_quantity", "option_price", "option_quantity")

  /** A2 — shared prefix: customer rename, guest filter hook, revenue. */
  def revenueBase(finalDf: DataFrame): DataFrame =
    finalDf
      .withColumnRenamed("user_id", "customer_id")
      .withColumn("revenue",
        coalesce(col("option_price"), lit(0.0)) * coalesce(col("option_quantity"), lit(0)) +
          coalesce(col("item_price"), lit(0.0)) * coalesce(col("item_quantity"), lit(1)))

  private def nonGuest(df: DataFrame): DataFrame =
    df.filter(col("customer_id") =!= "_guest")

  /** A3 — CLV per (restaurant, customer, date_key, loyalty). */
  def clv(base: DataFrame): DataFrame =
    nonGuest(base)
      .groupBy(col("restaurant_id"), col("customer_id"), col("date_key"), col("is_loyalty"))
      .agg(
        Exact.dsum(col("revenue")).as("total_revenue"),
        count(col("order_id")).as("n_lines"),
        max(col("date")).as("last_date"),
        Exact.davg(col("revenue")).as("avg_revenue"),
        min(col("revenue")).as("min_revenue"))

  /** A4/A5/J3 — CLV buckets via one-pass per-restaurant percentiles.
    * `mode` ([[graft.ops.Percentiles]]): exact is the oracle-gated
    * default; a restaurant with ~10⁸ customers at 100 TB swaps the
    * threshold aggregation to the mergeable approx sketch — the
    * broadcast-join bucketing plan is unchanged.
    */
  def clvBuckets(base: DataFrame,
      mode: graft.ops.Percentiles.Mode = graft.ops.Percentiles.Exact): DataFrame = {
    // perCust feeds both the threshold build and the probe: AQE reuses its
    // exchange, over the base the caller persisted (see allFromBase)
    val perCust = nonGuest(base)
      .groupBy(col("restaurant_id"), col("customer_id"))
      .agg(Exact.dsum(col("revenue")).as("clv"))
    val m = graft.ops.Percentiles.resolve(perCust, Seq(col("restaurant_id")), mode)
    // one array-percentile buffer per restaurant instead of two (each
    // scalar pctl buffered the group's values independently — round-19)
    val th = perCust.groupBy(col("restaurant_id"))
      .agg(graft.ops.Percentiles.pctls(col("clv"), Seq(0.2, 0.8), m).as("th"))
      .select(col("restaurant_id"),
        col("th").getItem(0).as("low_th"), col("th").getItem(1).as("high_th"))
    perCust.join(broadcast(th), Seq("restaurant_id"))
      .withColumn("clv_bucket",
        when(col("clv") >= col("high_th"), "High CLV")
          .when(col("clv") <= col("low_th"), "Low CLV")
          .otherwise("Medium CLV"))
      .drop("low_th", "high_th")
  }

  /** A6/A7/A8 — RFM with a broadcast snapshot instead of driver collect. */
  def rfm(base: DataFrame): DataFrame = {
    val snapshot = nonGuest(base).agg(max(col("date")).as("snapshot_date"))
    nonGuest(base)
      .groupBy(col("restaurant_id"), col("customer_id"))
      .agg(
        max(col("date")).as("last_date"),
        count(lit(1)).as("frequency"),
        Exact.dsum(col("revenue")).as("monetary"),
        max(col("is_loyalty")).as("is_loyalty")) // pinned vs reference's first()
      .crossJoin(broadcast(snapshot))
      .withColumn("recency", datediff(col("snapshot_date"), col("last_date")))
      .withColumn("segment",
        when(col("recency") <= 30 && col("frequency") >= 10, "VIP")
          .when(col("recency") > 180, "Churn Risk")
          .when(col("frequency") <= 2, "New Customer")
          .otherwise("Other"))
      .drop("snapshot_date")
  }

  /** W2/W3/A9 — activity profile: order gaps + revenue %-change via lag.
    * Ordering includes lineitem_id: (date, order_id) alone ties for
    * multi-line orders, which would make lag() nondeterministic.
    */
  def activityProfile(base: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("restaurant_id"), col("customer_id"))
      .orderBy(col("date"), col("order_id"), col("lineitem_id"))
    nonGuest(base)
      .withColumn("prev_date", lag(col("date"), 1).over(w))
      .withColumn("prev_rev", lag(col("revenue"), 1).over(w))
      .withColumn("order_gap", datediff(col("date"), col("prev_date")))
      .withColumn("rev_change_pct",
        when(col("prev_rev").isNotNull && col("prev_rev") =!= 0.0,
          (col("revenue") - col("prev_rev")) / col("prev_rev")))
      .groupBy(col("restaurant_id"), col("customer_id"))
      .agg(max(col("date")).as("last_date"),
        round(avg(col("order_gap")), 6).as("avg_order_gap"),
        round(avg(col("rev_change_pct")), 6).as("avg_rev_change_pct"))
      .withColumn("activity_tag",
        when(col("avg_order_gap").isNull, "one-off")
          .when(col("avg_order_gap") <= 7.0, "frequent")
          .when(col("avg_order_gap") <= 30.0, "regular")
          .otherwise("dormant"))
  }

  /** A10 — sales trends at four granularities (kept as four separate aggs
    * for parity with the reference's manual rollup, incl. its week-start
    * reconstruction).
    */
  def trends(base: DataFrame): Map[String, DataFrame] = {
    val withParts = base
      .withColumn("yr", year(col("date")))
      .withColumn("wk", weekofyear(col("date")))
      .withColumn("mon", month(col("date")))
      .withColumn("hr", hour(to_timestamp(col("time"), "HH:mm:ss")))
    def agg(df: DataFrame, keys: Seq[String]) =
      df.groupBy(keys.map(col): _*)
        .agg(Exact.dsum(col("revenue")).as("total_revenue"), count(lit(1)).as("n_lines"))
    Map(
      "daily" -> agg(withParts, Seq("yr", "date", "restaurant_id", "final_category")),
      "weekly" -> agg(withParts, Seq("yr", "wk", "restaurant_id", "final_category"))
        .withColumn("week_start",
          date_add(to_date(concat(col("yr"), lit("-01-01"))), (col("wk") - 1) * 7)),
      "monthly" -> agg(withParts, Seq("yr", "mon", "restaurant_id", "final_category"))
        .withColumn("month_start", make_date(col("yr"), col("mon"), lit(1))),
      "hourly" -> agg(withParts, Seq("hr", "restaurant_id", "final_category")))
  }

  /** A11 — loyalty impact, avg-of-avgs preserved deliberately. */
  def loyaltyImpact(base: DataFrame): DataFrame =
    nonGuest(base)
      .groupBy(col("restaurant_id"), col("is_loyalty"), col("customer_id"))
      .agg(Exact.davg(col("revenue")).as("avg_rev"),
        count(lit(1)).as("n_lines"), Exact.dsum(col("revenue")).as("total_rev"))
      .groupBy(col("restaurant_id"), col("is_loyalty"))
      .agg(round(avg(col("avg_rev")), 6).as("avg_of_customer_avgs"),
        Exact.dsum(col("total_rev")).as("total_revenue"),
        count(lit(1)).as("n_customers"))

  /** A12/W4 — top locations: countDistinct aggs + rank over the aggregate. */
  def topLocations(base: DataFrame): DataFrame = {
    val agg = base.groupBy(col("restaurant_id"))
      .agg(Exact.dsum(col("revenue")).as("total_revenue"),
        Exact.davg(col("revenue")).as("avg_revenue"),
        countDistinct(col("date")).as("active_days"),
        countDistinct(col("order_id")).as("n_orders"))
      .withColumn("orders_per_day", col("n_orders") / col("active_days"))
    agg.withColumn("rank", row_number().over(
      Window.orderBy(col("total_revenue").desc, col("restaurant_id"))))
  }

  /** A13 — discount effectiveness (negative option price ⇒ discounted). */
  def discountEffectiveness(base: DataFrame): DataFrame =
    base
      .withColumn("is_discounted", col("option_price") < 0.0)
      .groupBy(col("restaurant_id"), col("is_discounted"))
      .agg(Exact.dsum(col("revenue")).as("total_revenue"),
        countDistinct(col("order_id")).as("n_orders"),
        Exact.davg(col("revenue")).as("avg_revenue"))

  /** A15 — threshold-dict regeneration: per (restaurant, category, item)
    * price/qty stats, the offline source of the quality thresholds
    * (`edafinal.ipynb` cells 71/73/111) — one distributed aggregation.
    */
  def thresholdStats(items: DataFrame): DataFrame =
    items.groupBy(col("restaurant_id"), col("item_category"), col("item_name"))
      .agg(
        min(col("item_price")).as("price_min"), max(col("item_price")).as("price_max"),
        Exact.davg(col("item_price")).as("price_mean"),
        min(col("item_quantity")).as("qty_min"), max(col("item_quantity")).as("qty_max"),
        Exact.davg(col("item_quantity")).as("qty_mean"),
        count(lit(1)).as("n_obs"))

  /** The fan-out over an ALREADY-BUILT [[revenueBase]] — callers that
    * materialize several outputs should persist that base first (the
    * reference's own idiom, `go-transform-elt.py:338`) so the eleven
    * writers share one cached scan instead of eleven re-reads.
    */
  def allFromBase(base: DataFrame): Map[String, DataFrame] =
    Map(
      "clv" -> clv(base),
      "clv_buckets" -> clvBuckets(base),
      "rfm" -> rfm(base),
      "activity_profile" -> activityProfile(base),
      "loyalty_impact" -> loyaltyImpact(base),
      "top_locations" -> topLocations(base),
      "discount_effectiveness" -> discountEffectiveness(base)) ++
      trends(base).map { case (k, v) => s"sales_trends_$k" -> v }
}
