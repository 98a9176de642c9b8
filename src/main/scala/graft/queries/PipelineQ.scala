package graft.queries

import graft.{Oracles, QueryDef}
import graft.core.Tables
import graft.pipeline._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle-gated END-TO-END pipeline stages (VERDICT r01 "Next round" item 1).
  *
  * Unlike the per-operator queries (q01–q62), these run the REAL stage code —
  * [[graft.pipeline.TransformJob]] → [[graft.pipeline.QualityJob]] →
  * [[graft.pipeline.MetricsJob]] with the REAL mapping YAMLs
  * ([[graft.pipeline.MappingRules.default]]) — over a deterministic
  * `order_items` feed derived from `lineitem ⋈ orders`, and hash-compare
  * every stage output against a DuckDB re-implementation generated from the
  * SAME loaded rule set. Reference lifecycle: `go-transform-elt.py:204-336` →
  * `go-quality-elt.py:96-312` → `go-metric-elt.py:50-263`.
  *
  * Feed design: item names / categories come from literal arrays indexed by
  * `l_partkey`/`l_suppkey` mods so that every transform branch fires — all
  * first-match category rules (incl. order-sensitive ones: "Hot  Bowls" must
  * hit `bowls?0?` BEFORE `hot[\s_-]*bowls?`), beverage classes, size
  * fragments, URL/backtick stripping, the alltown/the word-drops, category
  * merges, bowls/salads/burgers reassignment, the P5 test-row filter, P4
  * price/qty quarantine rules, and both severity bounds. Prices/quantities
  * are built from integer arithmetic divided by 100 so every double is the
  * same IEEE value in both engines (no fmod/rounding hazards).
  *
  * Quality thresholds are regenerated from the transform output itself
  * (per-group `percentile` 0.25/0.75 — exactly `quantile_cont` in DuckDB,
  * see NOTES.md), mirroring the reference's offline A15 → U5 loop
  * (`edafinal.ipynb` → `restaurant_thresholds.yaml`).
  *
  * Scale notes: the chain is transform (map-only over the fact join) →
  * threshold agg + broadcast join → options shuffle join on lineitem_id →
  * broadcast date-dim join → metric aggregations. The transform output is
  * persisted ONCE and shared by all stage queries of the session (the
  * handoff-free form of [[graft.pipeline.PipelineRunner]]'s chain — the fix
  * for the q37/q45-style double-scan the round-1 judge flagged).
  * P2 string normalization is provably a no-op on this feed (every string
  * column is already lower/trimmed by construction), so the oracle SQL omits
  * it; the Spark side still runs it via QualityJob.
  */
object PipelineQ {

  private lazy val rules: MappingRuleSet = MappingRules.default

  // ---------------------------------------------------------------- feed ---

  /** Item names: every transform/beverage/size branch is represented. */
  private val itemNames: Seq[String] = Seq(
    "Iced Coffee (12oz)",            // size w/ parens
    "Hot Espresso 16 oz",            // size w/ space
    "Alltown Fresh's Turkey Sandwich", // U4 brand strip
    "The Veggie Burger",             // U4 \bthe\b strip + burgers reassign
    "Harvest Bowl",                  // bowls reassign
    "Caesar Salad 8oz",              // salads reassign + size
    "Energy Boost Red Bull 250ml",   // energy drinks + ml size
    "Coca Cola 2 liter",             // sodas + liter size
    "Spring Water 1L",               // water + litre-letter size
    "Orange Juice half gallon",      // juices + half gallon size
    "Test Item Do Not Buy",          // P5 drop via name
    "Choc Chip Cookies 2 pack",      // pack size
    "Ginger Kombucha 16oz",          // kombucha rule
    "Drip C*offee",                  // U4 char-class strip
    "Breakfast Burrito",
    "BBQ Side Platter",
    "Kid's Meal Box",
    "Vegan Wrap",
    "Meal Prep Box 5 count",         // count size
    "Fresh Lemonade 32 oz")          // lemonade rule

  /** Categories (all < 30 chars so U1's truncate-at-30 can't strand a
    * trailing space for P2 to re-trim — keeps the no-P2 oracle exact).
    */
  private val itemCats: Seq[String] = Seq(
    "Breakfast",                     // break[\s_-]*fast
    "Hot  Bowls",                    // ORDER: bowls?0? wins over hot bowls
    "Drip_Coffee",                   // drip[\s_-]*c(offee)?
    "Burgers & Sandwiches",
    "Candy Dark Chocolate",          // candy.*chocolate
    "Menu `Specials` http://x.io/c", // U1 URL + backtick strip
    "Test Items",                    // P5 drop via category label
    "Plates",
    "Specialty Coffee Beverages",
    "Gluten-Free",                   // gluten[\s_-]*free
    "Sides",                         // merge → snacks
    "Drinks",                        // merge → beverages
    "Entrees",                       // merge → mains
    "Vegetarian Options",
    "Sqalads",                       // typo rule precedes salads?
    "Sandwiches1",                   // sandwiches1?
    "Tobacco",
    "Cold Brew",                     // cold[\s_-]*brew → coffee
    "Kid's",                         // ^kid['s]*$ anchored rule
    "Espresso  Bar")                 // espresso → specialty coffee

  private val optGroups = Seq("add-ons", "sauces", "sides", "discounts")
  private val optNames = Seq("extra cheese", "ranch", "bbq sauce",
    "avocado", "fries upgrade", "member discount")

  /** Deterministic `order_items` feed from lineitem ⋈ orders. */
  private[graft] def feed(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // spread the JOIN INPUT (not the output): the single-split lineitem
    // scan made the broadcast join itself run on ≤3 partitions (stage-
    // logged: a 2.7 s single-task straggler), and the former output
    // repartition then paid a SECOND shuffle of the wide feed. Spreading
    // the skinny input gives the join and the regex transform full-core
    // parallelism with one small exchange (identity at production split
    // counts).
    val li = Tables.spread(t.lineitem)
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
    val price = when(col("l_orderkey") % 37 === 0, lit(null).cast("double"))
      .when(col("l_orderkey") % 31 === 0, lit(0.0))
      .when(col("l_orderkey") % 29 === 0, lit(1.0))
      .when(col("l_orderkey") % 23 === 0, lit(0.5))
      .when(col("l_orderkey") % 19 === 0, lit(150.25))
      .otherwise((col("l_partkey") % 9400 + 101).cast("double") / 100.0)
    val qty = when(col("l_orderkey") % 41 === 0, lit(null).cast("int"))
      .when(col("l_orderkey") % 43 === 0, lit(0))
      .when(col("l_orderkey") % 47 === 0, lit(1))
      .when(col("l_orderkey") % 53 === 0, lit(48))
      .otherwise((col("l_partkey") % 9).cast("int") + 2)
    li.select(
      col("l_orderkey").cast("string").as("order_id"),
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic testdata;
      // widen with partkey+suppkey so the options join can't fan out and the
      // activity-profile lag window has no cross-engine ties
      concat((col("l_orderkey") * 10 + col("l_linenumber")).cast("string"),
        lit("-"), col("l_partkey").cast("string"),
        lit("-"), col("l_suppkey").cast("string")).as("lineitem_id"),
      concat(lit("r"), (col("l_suppkey") % 20).cast("string")).as("restaurant_id"),
      when(col("o_custkey") % 11 === 0, lit(null).cast("string"))
        .otherwise(col("o_custkey").cast("string")).as("user_id"),
      when(col("l_partkey") % 7 === 0, lit(null).cast("string"))
        .otherwise((col("l_partkey") % 90000 + 10000).cast("string")).as("printed_card_number"),
      (col("o_custkey") % 3 === 0).as("is_loyalty"),
      when(col("l_partkey") % 97 === 0, lit(null).cast("string"))
        .otherwise(element_at(typedLit(itemNames), (col("l_partkey") % 20).cast("int") + 1))
        .as("item_name"),
      when(col("l_suppkey") % 89 === 0, lit(null).cast("string"))
        .otherwise(element_at(typedLit(itemCats),
          ((col("l_partkey") + col("l_suppkey")) % 20).cast("int") + 1))
        .as("item_category"),
      price.as("item_price"),
      qty.as("item_quantity"),
      concat(
        date_format(col("o_orderdate"), "yyyy-MM-dd"), lit(" "),
        lpad((col("l_orderkey") % 24).cast("string"), 2, "0"), lit(":"),
        lpad((col("l_partkey") % 60).cast("string"), 2, "0"), lit(":"),
        lpad((col("l_suppkey") % 60).cast("string"), 2, "0")).as("creation_time_utc"))
      // Keep the output repartition IN ADDITION to the input spread: the
      // spread fixes the broadcast-join straggler (2.7 s single task on
      // the 3-partition join), while this exchange pins the persisted
      // feed's partitioning for the ten downstream metrics queries — an
      // A/B without it measured q69–q72 at 7–10 s instead of ~1 s (the
      // memo's consumers re-derive from a differently-shaped cached
      // plan). Paid once per memo build.
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** Options side-table: one option for every 4th lineitem; every 5th
    * supplier's option is a negative-price discount (feeds A13).
    */
  private[graft] def options(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem.filter(col("l_partkey") % 4 === 0).select(
      concat((col("l_orderkey") * 10 + col("l_linenumber")).cast("string"),
        lit("-"), col("l_partkey").cast("string"),
        lit("-"), col("l_suppkey").cast("string")).as("lineitem_id"),
      element_at(typedLit(optGroups), (col("l_suppkey") % 4).cast("int") + 1)
        .as("option_group_name"),
      element_at(typedLit(optNames), (col("l_partkey") % 6).cast("int") + 1)
        .as("option_name"),
      when(col("l_suppkey") % 5 === 0, lit(-1.5))
        .otherwise((col("l_suppkey") % 400 + 25).cast("double") / 100.0)
        .as("option_price"),
      (col("l_suppkey") % 3).cast("int").+(1).as("option_quantity"))
  }

  /** Date dimension keyed on the transform's dd-MM-yyyy date_key. */
  private[graft] def dateDim(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val d = col("o_orderdate")
    t.orders.select(
      date_format(d, "dd-MM-yyyy").as("date_key"),
      year(d).as("year"),
      month(d).as("month"),
      dayofweek(d).isin(1, 7).as("is_weekend"),
      ((month(d) === 1 && dayofmonth(d) === 1) ||
        (month(d) === 7 && dayofmonth(d) === 4) ||
        (month(d) === 12 && dayofmonth(d) === 25)).as("is_holiday")).distinct()
  }

  /** A15 → U5 regeneration: per-(restaurant, category, item) percentile
    * bounds from the transform output (see object doc).
    */
  private[graft] def thresholdsOf(transformed: DataFrame): DataFrame =
    // one array-percentile buffer per column (2) instead of one per
    // (column, p) pair (4) — round-19, the q130 decileBounds fix
    transformed.groupBy(col("restaurant_id"), col("item_category"), col("item_name"))
      .agg(
        expr("percentile(item_price, array(0.25, 0.75))").as("price_th"),
        expr("percentile(item_quantity, array(0.25, 0.75))").as("qty_th"))
      .select(col("restaurant_id"), col("item_category"), col("item_name"),
        col("price_th").getItem(0).as("price_min"),
        col("price_th").getItem(1).as("price_max"),
        col("qty_th").getItem(0).as("qty_min"),
        col("qty_th").getItem(1).as("qty_max"))

  // --------------------------------------------------------- shared plan ---

  /** One pipeline instantiation per (session, sfDir) via [[graft.core.Memo]]
    * (the repo's single memo mechanism): the transform output and the full
    * canonical quality frame (threshold agg + two joins + schema canon) are
    * persisted, so q64/q65 and every metric query read built frames instead
    * of each re-running the regex transform and the join chain.
    */
  private def pipeline(spark: SparkSession, dir: String): (DataFrame, QualityJob.QualityOutput) =
    graft.core.Memo.cached(spark, s"pipeline:$dir") {
      val t = TransformJob(feed(spark, dir), rules)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = QualityJob(t, options(spark, dir), dateDim(spark, dir), thresholdsOf(t))
      q.canonical.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (t, q)
    }

  private def finalDf(spark: SparkSession, dir: String): DataFrame =
    pipeline(spark, dir)._2.finalDf

  private def mbase(spark: SparkSession, dir: String): DataFrame =
    MetricsJob.revenueBase(pipeline(spark, dir)._2.metricsInput)

  // ------------------------------------------------------------- queries ---

  def pipelineTransform(spark: SparkSession, dir: String): DataFrame =
    pipeline(spark, dir)._1.select(
      col("order_id"), col("lineitem_id"), col("restaurant_id"), col("user_id"),
      col("printed_card_number"), col("is_loyalty"), col("item_price"),
      col("item_quantity"), col("creation_time_utc"), col("item_category"),
      col("item_name"), col("item_size"), col("beverage_class"),
      col("final_category"), col("date"), col("date_key"), col("time"))

  def pipelineQualityFinal(spark: SparkSession, dir: String): DataFrame =
    finalDf(spark, dir)

  def pipelineQualityQuarantine(spark: SparkSession, dir: String): DataFrame =
    pipeline(spark, dir)._2.quarantine

  def pipelineClv(spark: SparkSession, dir: String): DataFrame =
    MetricsJob.clv(mbase(spark, dir))

  def pipelineRfm(spark: SparkSession, dir: String): DataFrame =
    MetricsJob.rfm(mbase(spark, dir))

  def pipelineTopLocations(spark: SparkSession, dir: String): DataFrame =
    MetricsJob.topLocations(mbase(spark, dir))

  def pipelineTrendsDaily(spark: SparkSession, dir: String): DataFrame =
    MetricsJob.trends(mbase(spark, dir))("daily")

  def pipelineDiscountEffect(spark: SparkSession, dir: String): DataFrame =
    MetricsJob.discountEffectiveness(mbase(spark, dir))

  def pipelineLoyaltyImpact(spark: SparkSession, dir: String): DataFrame =
    MetricsJob.loyaltyImpact(mbase(spark, dir))

  def pipelineActivityProfile(spark: SparkSession, dir: String): DataFrame =
    MetricsJob.activityProfile(mbase(spark, dir))

  // ---------------------------------------------------------- oracle SQL ---

  private def esc(s: String): String = s.replace("'", "''")

  private def sqlStrList(xs: Seq[String]): String =
    xs.map(x => s"'${esc(x)}'").mkString("[", ", ", "]")

  /** First-match regex chain → CASE. `input` must already be lowercased by
    * the caller when mirroring `lower(c).rlike(rx)`.
    */
  private def whenChainSql(rs: Seq[(String, String)], input: String, default: String): String =
    rs.map { case (rx, label) =>
      s"    WHEN regexp_matches($input, '${esc(rx)}') THEN '${esc(label)}'"
    }.mkString("CASE\n", "\n", s"\n    ELSE $default END")

  /** Sequential category merges — flat CASE is equivalent because no merge
    * target is another merge's source (asserted here so a future rule change
    * can't silently break the equivalence).
    */
  private def mergeCaseSql(input: String): String = {
    val sources = Schemas.categoryMerges.map(_._1).toSet
    require(Schemas.categoryMerges.forall { case (_, to) => !sources(to) },
      "category merges chain; flat CASE oracle no longer valid")
    Schemas.categoryMerges.map { case (from, to) =>
      s"    WHEN $input = '${esc(from)}' THEN '${esc(to)}'"
    }.mkString("CASE\n", "\n", s"\n    ELSE $input END")
  }

  /** feed + transform CTE chain, generated from the SAME rule set the Spark
    * side uses (`TransformJob` semantics, step for step).
    */
  private lazy val transformCtes: String = {
    val szRx = esc(rules.sizeRegex)
    s"""WITH feed AS (
       |  SELECT
       |    CAST(l_orderkey AS VARCHAR) AS order_id,
       |    CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR) AS lineitem_id,
       |    'r' || CAST(l_suppkey % 20 AS VARCHAR) AS restaurant_id,
       |    CASE WHEN o_custkey % 11 = 0 THEN NULL ELSE CAST(o_custkey AS VARCHAR) END AS user_id,
       |    CASE WHEN l_partkey % 7 = 0 THEN NULL ELSE CAST(l_partkey % 90000 + 10000 AS VARCHAR) END AS printed_card_number,
       |    (o_custkey % 3 = 0) AS is_loyalty,
       |    CASE WHEN l_partkey % 97 = 0 THEN NULL
       |         ELSE list_extract(${sqlStrList(itemNames)}, CAST(l_partkey % 20 AS INT) + 1) END AS item_name,
       |    CASE WHEN l_suppkey % 89 = 0 THEN NULL
       |         ELSE list_extract(${sqlStrList(itemCats)}, CAST((l_partkey + l_suppkey) % 20 AS INT) + 1) END AS item_category,
       |    CASE WHEN l_orderkey % 37 = 0 THEN NULL
       |         WHEN l_orderkey % 31 = 0 THEN 0.0
       |         WHEN l_orderkey % 29 = 0 THEN 1.0
       |         WHEN l_orderkey % 23 = 0 THEN 0.5
       |         WHEN l_orderkey % 19 = 0 THEN 150.25
       |         ELSE CAST(l_partkey % 9400 + 101 AS DOUBLE) / 100.0 END AS item_price,
       |    CAST(CASE WHEN l_orderkey % 41 = 0 THEN NULL
       |         WHEN l_orderkey % 43 = 0 THEN 0
       |         WHEN l_orderkey % 47 = 0 THEN 1
       |         WHEN l_orderkey % 53 = 0 THEN 48
       |         ELSE l_partkey % 9 + 2 END AS INT) AS item_quantity,
       |    strftime(o_orderdate, '%Y-%m-%d') || ' ' ||
       |      lpad(CAST(l_orderkey % 24 AS VARCHAR), 2, '0') || ':' ||
       |      lpad(CAST(l_partkey % 60 AS VARCHAR), 2, '0') || ':' ||
       |      lpad(CAST(l_suppkey % 60 AS VARCHAR), 2, '0') AS creation_time_utc
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), t1 AS ( -- U1 clean category label
       |  SELECT *, substr(trim(regexp_replace(regexp_replace(item_category, 'http\\S+', '', 'g'), '`', '', 'g')), 1, 30) AS cat_clean
       |  FROM feed
       |), t2 AS ( -- U2 first-match category rules + U4 clean item name
       |  SELECT * EXCLUDE (item_category, cat_clean),
       |    ${whenChainSql(rules.categoryRules, "lower(cat_clean)", "lower(cat_clean)")}
       |      AS item_category,
       |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      lower(item_name), '[^a-z0-9|& ]', '', 'g'),
       |      '\\balltown\\s*fresh''?s?\\b', '', 'g'),
       |      '\\bthe\\b', '', 'g'), '\\s+', ' ', 'g')) AS item_name_clean
       |  FROM t1
       |), t3 AS ( -- U6 size extraction/removal
       |  SELECT * EXCLUDE (item_name, item_name_clean),
       |    lower(trim(regexp_replace(regexp_extract(item_name_clean, '$szRx', 0), '[()]', '', 'g'))) AS item_size,
       |    trim(regexp_replace(regexp_replace(item_name_clean, '$szRx', '', 'g'), '\\s+', ' ', 'g')) AS item_name
       |  FROM t2
       |), t4 AS ( -- U3 beverage classification
       |  SELECT *,
       |    ${whenChainSql(rules.beverageRules, "lower(item_name)", "CAST(NULL AS VARCHAR)")}
       |      AS beverage_class
       |  FROM t3
       |), t5 AS ( -- final_category resolution + merges
       |  SELECT *,
       |    ${mergeCaseSql("COALESCE(beverage_class, item_category)")} AS fc0
       |  FROM t4
       |), t6 AS ( -- keyword reassignment
       |  SELECT * EXCLUDE (fc0),
       |    CASE WHEN regexp_matches(item_name, '(?i)\\bbowls?\\b') AND NOT regexp_matches(fc0, '(?i)catering') THEN 'bowls'
       |         WHEN regexp_matches(item_name, '(?i)\\bsalads?\\b') AND NOT regexp_matches(fc0, '(?i)catering') THEN 'salads'
       |         WHEN regexp_matches(item_name, '(?i)\\bburgers?\\b') AND NOT regexp_matches(fc0, '(?i)catering') THEN 'burgers'
       |         ELSE fc0 END AS final_category
       |  FROM t5
       |), transformed AS ( -- P5 filter + datetime derivation + null fills
       |  SELECT * EXCLUDE (user_id, printed_card_number, item_category),
       |    COALESCE(user_id, '_guest') AS user_id,
       |    COALESCE(printed_card_number, '00000') AS printed_card_number,
       |    COALESCE(item_category, 'uncategorized') AS item_category,
       |    CAST(CAST(creation_time_utc AS TIMESTAMP) AS DATE) AS date,
       |    strftime(CAST(creation_time_utc AS TIMESTAMP), '%d-%m-%Y') AS date_key,
       |    strftime(CAST(creation_time_utc AS TIMESTAMP), '%H:%M:%S') AS time
       |  FROM t6
       |  WHERE NOT (COALESCE(regexp_matches(item_category, '(?i)test'), false)
       |          OR COALESCE(regexp_matches(item_name, '(?i)test'), false))
       |)""".stripMargin
  }

  /** quality CTE chain on top of [[transformCtes]]. */
  private lazy val qualityCtes: String =
    s"""$transformCtes, kept AS ( -- P4 rule negation (quarantines excluded)
       |  SELECT * FROM transformed
       |  WHERE NOT (item_price IS NULL OR item_price <= 0.0 OR item_price = 1.0
       |             OR (item_price > 0.0 AND item_price < 1.0) OR item_price > 100.0)
       |    AND NOT (item_quantity IS NULL OR item_quantity = 0 OR item_quantity = 1 OR item_quantity > 47)
       |), th AS ( -- A15→U5 percentile thresholds from the transform output
       |  SELECT restaurant_id, item_category, item_name,
       |    quantile_cont(item_price, 0.25) AS price_min,
       |    quantile_cont(item_price, 0.75) AS price_max,
       |    quantile_cont(item_quantity, 0.25) AS qty_min,
       |    quantile_cont(item_quantity, 0.75) AS qty_max
       |  FROM transformed GROUP BY 1, 2, 3
       |), sev1 AS (
       |  SELECT k.*, t.price_min, t.price_max, t.qty_min, t.qty_max
       |  FROM kept k LEFT JOIN th t USING (restaurant_id, item_category, item_name)
       |), sev2 AS (
       |  SELECT *,
       |    (CASE WHEN price_min IS NOT NULL AND price_max IS NOT NULL
       |               AND (item_price < price_min OR item_price > price_max) THEN 1 ELSE 0 END
       |   + CASE WHEN qty_min IS NOT NULL AND qty_max IS NOT NULL
       |               AND (item_quantity < qty_min OR item_quantity > qty_max) THEN 1 ELSE 0 END) AS viol
       |  FROM sev1
       |), sev AS (
       |  SELECT * EXCLUDE (viol, price_min, price_max, qty_min, qty_max),
       |    CASE WHEN viol = 2 THEN 'high' WHEN viol = 1 THEN 'low' ELSE 'none' END AS severity,
       |    viol > 0 AS flagged
       |  FROM sev2
       |), keyed AS (
       |  SELECT *, sha256(md5(order_id) || '|' || md5(lineitem_id)) AS order_key FROM sev
       |), opts AS (
       |  SELECT CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR) AS lineitem_id,
       |    list_extract(${sqlStrList(optGroups)}, CAST(l_suppkey % 4 AS INT) + 1) AS option_group_name,
       |    list_extract(${sqlStrList(optNames)}, CAST(l_partkey % 6 AS INT) + 1) AS option_name,
       |    CASE WHEN l_suppkey % 5 = 0 THEN -1.5 ELSE CAST(l_suppkey % 400 + 25 AS DOUBLE) / 100.0 END AS option_price,
       |    CAST(l_suppkey % 3 + 1 AS INT) AS option_quantity
       |  FROM lineitem WHERE l_partkey % 4 = 0
       |), wopt AS ( -- J1 + option null fills (N/A is POST-P2, stays uppercase)
       |  SELECT s.*,
       |    COALESCE(o.option_price, 0.0) AS option_price,
       |    COALESCE(o.option_quantity, 0) AS option_quantity,
       |    COALESCE(o.option_group_name, 'N/A') AS option_group_name,
       |    COALESCE(o.option_name, 'N/A') AS option_name
       |  FROM keyed s LEFT JOIN opts o USING (lineitem_id)
       |), ddim AS (
       |  SELECT DISTINCT strftime(o_orderdate, '%d-%m-%Y') AS date_key,
       |    CAST(year(o_orderdate) AS INT) AS year,
       |    CAST(month(o_orderdate) AS INT) AS month,
       |    (dayofweek(o_orderdate) IN (0, 6)) AS is_weekend,
       |    ((month(o_orderdate) = 1 AND day(o_orderdate) = 1)
       |      OR (month(o_orderdate) = 7 AND day(o_orderdate) = 4)
       |      OR (month(o_orderdate) = 12 AND day(o_orderdate) = 25)) AS is_holiday
       |  FROM orders
       |), fin AS ( -- P3 canonical schema + J2 date enrichment, both splits
       |  SELECT
       |    order_key,
       |    CAST(NULL AS VARCHAR) AS app_name,
       |    restaurant_id, order_id, lineitem_id, user_id, printed_card_number,
       |    is_loyalty,
       |    CAST(NULL AS VARCHAR) AS currency,
       |    item_category, final_category, item_name, item_size,
       |    item_price, item_quantity,
       |    CAST(date AS VARCHAR) AS date,
       |    date_key, time, severity, flagged,
       |    creation_time_utc, beverage_class,
       |    option_price, option_quantity, option_group_name, option_name,
       |    d.year, d.month, d.is_weekend, d.is_holiday
       |  FROM wopt LEFT JOIN ddim d USING (date_key)
       |)""".stripMargin

  /** metrics base (A2) on top of [[qualityCtes]]. */
  private lazy val metricsCtes: String =
    s"""$qualityCtes, mbase AS (
       |  SELECT * EXCLUDE (user_id), user_id AS customer_id,
       |    COALESCE(option_price, 0.0) * COALESCE(option_quantity, 0)
       |      + COALESCE(item_price, 0.0) * COALESCE(item_quantity, 1) AS revenue
       |  FROM fin WHERE severity <> 'high'
       |)""".stripMargin

  private lazy val pipelineTransformSql = Oracles("pipeline", "pipelineTransform",
    "transformCtes" -> String.valueOf(transformCtes))

  private lazy val pipelineQualityFinalSql = Oracles("pipeline", "pipelineQualityFinal",
    "qualityCtes" -> String.valueOf(qualityCtes))

  private lazy val pipelineQualityQuarantineSql = Oracles("pipeline", "pipelineQualityQuarantine",
    "qualityCtes" -> String.valueOf(qualityCtes))

  private lazy val pipelineClvSql = Oracles("pipeline", "pipelineClv",
    "metricsCtes" -> String.valueOf(metricsCtes))

  private lazy val pipelineRfmSql = Oracles("pipeline", "pipelineRfm",
    "metricsCtes" -> String.valueOf(metricsCtes))

  private lazy val pipelineTopLocationsSql = Oracles("pipeline", "pipelineTopLocations",
    "metricsCtes" -> String.valueOf(metricsCtes))

  private lazy val pipelineTrendsDailySql = Oracles("pipeline", "pipelineTrendsDaily",
    "metricsCtes" -> String.valueOf(metricsCtes))

  private lazy val pipelineDiscountEffectSql = Oracles("pipeline", "pipelineDiscountEffect",
    "metricsCtes" -> String.valueOf(metricsCtes))

  private lazy val pipelineLoyaltyImpactSql = Oracles("pipeline", "pipelineLoyaltyImpact",
    "metricsCtes" -> String.valueOf(metricsCtes))

  private lazy val pipelineActivityProfileSql = Oracles("pipeline", "pipelineActivityProfile",
    "metricsCtes" -> String.valueOf(metricsCtes))

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q63_pipeline_transform", pipelineTransform, Some(pipelineTransformSql)),
    QueryDef("q64_pipeline_quality_final", pipelineQualityFinal, Some(pipelineQualityFinalSql)),
    QueryDef("q65_pipeline_quality_quarantine", pipelineQualityQuarantine, Some(pipelineQualityQuarantineSql)),
    QueryDef("q66_pipeline_clv", pipelineClv, Some(pipelineClvSql)),
    QueryDef("q67_pipeline_rfm", pipelineRfm, Some(pipelineRfmSql)),
    QueryDef("q68_pipeline_top_locations", pipelineTopLocations, Some(pipelineTopLocationsSql)),
    QueryDef("q69_pipeline_trends_daily", pipelineTrendsDaily, Some(pipelineTrendsDailySql)),
    QueryDef("q70_pipeline_discount_effect", pipelineDiscountEffect, Some(pipelineDiscountEffectSql)),
    QueryDef("q71_pipeline_loyalty_impact", pipelineLoyaltyImpact, Some(pipelineLoyaltyImpactSql)),
    QueryDef("q72_pipeline_activity_profile", pipelineActivityProfile, Some(pipelineActivityProfileSql)),
  )
}
