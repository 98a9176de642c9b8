package graft.pipeline

import graft.ops.SchemaOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Quality stage — re-expresses `go-quality-elt.py` Spark-first.
  *
  * Key scale decision (SURVEY.md §2.9 U5): the reference ships a 13k-entry
  * threshold YAML into a broadcast variable consumed by a per-row Python UDF
  * doing a 3-level dict lookup. Here thresholds are a DataFrame
  * broadcast-JOINED on (restaurant_id, item_category, item_name) with
  * when-arithmetic for the severity — fully codegen, no serialization wall,
  * and the thresholds table can grow far beyond driver memory by dropping
  * the broadcast hint (Catalyst falls back to a shuffle join).
  *
  * The A1 `subtract` (EXCEPT DISTINCT — with its surprise dedupe) is
  * replaced by an explicit rule-negation filter: quarantine and kept rows
  * partition the input exactly (no accidental dedupe; SURVEY.md §7.4 pins
  * this divergence).
  */
object QualityJob {

  /** @param canonical    the FULL canonical frame before the severity
    *                      split — the single-pass seam (VERDICT r17 item
    *                      2): a caller that lands `canonical` ONCE
    *                      partitioned by `severity` gets finalDf and
    *                      quarantine as partition-pruned READS of that
    *                      store instead of two recomputes of the chain
    *                      (the 100-TB layout; PipelineRunner ships it)
    * @param finalDf      full canonical rows, severity != high
    * @param quarantine   full canonical rows, severity == high
    * @param metricsInput the severity-filtered [[MetricsJob.consumedColumns]]
    *                     projection — the one plan the metric families fan
    *                     out from
    * None of them is cached (P7).
    */
  final case class QualityOutput(canonical: DataFrame, finalDf: DataFrame,
      quarantine: DataFrame, priceIssues: DataFrame, quantityIssues: DataFrame,
      metricsInput: DataFrame)

  /** P4 — QA rule predicates (`go-quality-elt.py:108-123`). */
  private def priceIssue = col("item_price").isNull ||
    col("item_price") <= 0.0 || col("item_price") === 1.0 ||
    (col("item_price") > 0.0 && col("item_price") < 1.0) ||
    col("item_price") > 100.0

  private def quantityIssue = col("item_quantity").isNull ||
    col("item_quantity") === 0 || col("item_quantity") === 1 ||
    col("item_quantity") > 47

  /** U5-as-join — severity from per-(restaurant, category, item) thresholds:
    * price/qty outside [min,max] each count one violation; 2 ⇒ high,
    * 1 ⇒ low, 0 or no threshold row ⇒ none (`go-quality-elt.py:144-168`).
    */
  def withSeverity(items: DataFrame, thresholds: DataFrame): DataFrame = {
    // Tolerate threshold tables carrying extra stat columns (mean/stddev,
    // as in the flattened reference YAML — MappingRules.thresholdSchema).
    val joined = items.join(broadcast(thresholds.select(
      col("restaurant_id"), col("item_category"), col("item_name"),
      col("price_min"), col("price_max"), col("qty_min"), col("qty_max"))),
      Seq("restaurant_id", "item_category", "item_name"), "left")
    // A bound counts only when BOTH min and max are present — exactly the
    // reference's `pmin is not None and pmax is not None` gate
    // (`go-quality-elt.py:157-164`).
    val priceViol = when(col("price_min").isNotNull && col("price_max").isNotNull &&
      (col("item_price") < col("price_min") || col("item_price") > col("price_max")), 1)
      .otherwise(0)
    val qtyViol = when(col("qty_min").isNotNull && col("qty_max").isNotNull &&
      (col("item_quantity") < col("qty_min") || col("item_quantity") > col("qty_max")), 1)
      .otherwise(0)
    joined
      .withColumn("__violations", priceViol + qtyViol)
      .withColumn("severity",
        when(col("__violations") === 2, "high")
          .when(col("__violations") === 1, "low")
          .otherwise("none"))
      .withColumn("flagged", col("__violations") > 0)
      .drop("__violations", "price_min", "price_max", "qty_min", "qty_max")
  }

  /** Full quality stage: string normalization → rule quarantines → severity
    * via threshold join → options join → date enrichment → canonical schema
    * → severity split.
    *
    * @param thresholds (restaurant_id, item_category, item_name,
    *                   price_min, price_max, qty_min, qty_max)
    * @param dateDim    date_key (dd-MM-yyyy string) + calendar columns
    */
  def apply(items: DataFrame, options: DataFrame, dateDim: DataFrame,
      thresholds: DataFrame): QualityOutput = {
    // P2 — lower/trim every string column in one projection
    val normalized = SchemaOps.normalizeStringValues(items)

    // P4 — rule quarantines; kept = explicit negation (not subtract)
    val priceIssues = normalized.filter(priceIssue)
    val quantityIssues = normalized.filter(quantityIssue)
    val kept = normalized.filter(!priceIssue && !quantityIssue)

    // U5 — severity via broadcast threshold join
    val flagged = withSeverity(kept, thresholds)

    // order_key surrogate (visible in the reference's later data, SURVEY
    // §1.1); fields hashed individually so separator chars in values can't
    // collide distinct keys
    val keyed = flagged.withColumn("order_key",
      sha2(concat_ws("|", md5(col("order_id")), md5(col("lineitem_id"))), 256))

    // J1 — items ⋈ options on lineitem_id (options' order_id dropped first,
    // `go-quality-elt.py:262-267`); no manual repartition — AQE plans it
    val withOptions = keyed.join(options.drop("order_id"), Seq("lineitem_id"), "left")
      .na.fill(Map("option_price" -> 0.0, "option_quantity" -> 0,
        "option_group_name" -> "N/A", "option_name" -> "N/A"))

    // J2 — broadcast date-dim enrichment on the dd-MM-yyyy string key
    val enriched = withOptions.join(broadcast(dateDim), Seq("date_key"), "left")

    // P3 — canonical schema: typed nulls for missing, reorder, cast; then
    // keep option/date columns appended after the canonical prefix
    val canonicalCols = Schemas.canonicalOrderItems.map(_._1)
    val extras = enriched.columns.filterNot(canonicalCols.contains)
    val canonical = SchemaOps.rearrangeColumnsTyped(enriched,
      Schemas.canonicalOrderItems ++ extras.map(c => c -> enriched.schema(c).dataType.sql))

    // P7 — severity split. Every output is a lazy plan over `canonical`;
    // the stage caches nothing. A caller that reads several outputs shares
    // the canonical rows itself: PipelineRunner lands `canonical` once,
    // partitioned by severity, and PipelineQ persists it.
    val metricsInput = canonical
      .filter(col("severity") =!= "high")
      .select(MetricsJob.consumedColumns.map(col): _*)
    QualityOutput(
      canonical = canonical,
      finalDf = canonical.filter(col("severity") =!= "high"),
      quarantine = canonical.filter(col("severity") === "high"),
      priceIssues = priceIssues,
      quantityIssues = quantityIssues,
      metricsInput = metricsInput)
  }
}
