package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Transform stage — re-expresses `go-transform-elt.py` as native Column
  * chains (no UDFs; SURVEY.md §2.9 maps each reference Python UDF U1–U4 to
  * a codegen-friendly expression).
  *
  * Intended-semantics decisions (SURVEY.md §7.4 item 1), each a deliberate
  * divergence from a reference bug, preserved behaviorally EXCEPT:
  *  - U1's URL strip uses `http\S+` (the reference's raw-string
  *    double-backslash makes its own pattern a no-op);
  *  - U4's `\bthe\b` / brand strip likewise uses real word boundaries;
  *  - `item_category`'s null fill is "uncategorized", not the reference's
  *    accidental `user_id` copy (`go-transform-elt.py:332`).
  */
object TransformJob {

  /** U1 — clean category label: strip URLs + backticks, trim, truncate 30
    * (`go-transform-elt.py:105-113`).
    */
  def cleanCategoryLabel(c: Column): Column =
    substring(trim(regexp_replace(regexp_replace(c, "http\\S+", ""), "`", "")), 1, 30)

  /** U2 — first-match category rules (`go-transform-elt.py:115-123` +
    * broadcast rules `:70-73`) through the native
    * [[graft.functions.FirstMatchLabel]] expression: one input→String
    * conversion and one tight compiled-Pattern loop per row, instead of a
    * ~29-branch `when(rlike)` chain that re-converts the input per branch
    * (the GC-heavy profile of the q63 transform stage — SURVEY §7.3's named
    * Catalyst extension). `find()` semantics and first-match-wins order are
    * identical to the rlike chain, so results are bit-equal. Matching is
    * against lowercased text — the reference both lowercases the input and
    * compiles IGNORECASE, so rules without `(?i)` (the YAML beverage file)
    * still match case-insensitively.
    */
  def fixCategory(c: Column, rules: Seq[(String, String)] = Schemas.categoryRules,
      preLowered: Boolean = false): Column = {
    val lc = if (preLowered) c else lower(c)
    coalesce(graft.functions.GraftFunctions.first_match_label(lc, rules), lc)
  }

  /** U3 — beverage classification; null when no rule matches
    * (`go-transform-elt.py:125-136`). Same native first-match expression as
    * [[fixCategory]]; NULL on no-match is the expression's own contract.
    */
  def classifyBeverage(c: Column, rules: Seq[(String, String)] = Schemas.beverageRules): Column =
    graft.functions.GraftFunctions.first_match_label(lower(c), rules)

  /** U4 — clean item name: drop `*` and non-[a-zA-Z0-9|& ] chars, lowercase,
    * remove the word "the" and "alltown fresh" variants, collapse spaces
    * (`go-transform-elt.py:138-157`, intended `\b` semantics).
    */
  def cleanItemName(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(c), "[^a-z0-9|& ]", ""),
          "\\balltown\\s*fresh'?s?\\b", ""),
        "\\bthe\\b", ""),
      "\\s+", " "))

  /** U6 — size extraction: one assembled alternation regex, extracted then
    * stripped of parens and removed from the name
    * (`go-transform-elt.py:86-98,212-218`).
    */
  def extractSize(name: Column, rx: String = Schemas.sizeRegex): Column =
    lower(trim(regexp_replace(regexp_extract(name, rx, 0), "[()]", "")))

  def removeSize(name: Column, rx: String = Schemas.sizeRegex): Column =
    trim(regexp_replace(regexp_replace(name, rx, ""), "\\s+", " "))

  /** Category/name cleaning, size extraction, beverage classification,
    * final-category resolution + merges + keyword reassignment, and the P5
    * test-row flag: every expensive regex in the transform.
    */
  private def labelColumns(df: DataFrame, rules: MappingRuleSet): DataFrame = {
    // The cleaned+lowered label is materialized as a REAL column before the
    // rule chain: embedding it per-branch would put ~29 copies of the U1
    // regex chain into one projection (CollapseProject won't inline an
    // attribute this expensive, so the factoring survives optimization).
    val cleaned = df
      .withColumn("__cat_clean", lower(cleanCategoryLabel(col("item_category"))))
      .withColumn("item_category",
        fixCategory(col("__cat_clean"), rules.categoryRules, preLowered = true))
      .drop("__cat_clean")
      .withColumn("item_name_clean", cleanItemName(col("item_name")))
      .withColumn("item_size", extractSize(col("item_name_clean"), rules.sizeRegex))
      .withColumn("item_name", removeSize(col("item_name_clean"), rules.sizeRegex))
      .drop("item_name_clean")
      .withColumn("beverage_class", classifyBeverage(col("item_name"), rules.beverageRules))

    // final_category resolution (`go-transform-elt.py:224-228`) + merges
    // (`:236-244`) + keyword reassignment (`:247-270`)
    val merged = Schemas.categoryMerges.foldLeft(
      cleaned.withColumn("final_category",
        coalesce(col("beverage_class"), col("item_category")))) {
      case (df2, (from, to)) =>
        df2.withColumn("final_category",
          when(col("final_category") === from, to).otherwise(col("final_category")))
    }
    merged
      .withColumn("final_category",
        when(col("item_name").rlike("(?i)\\bbowls?\\b") &&
          !col("final_category").rlike("(?i)catering"), "bowls")
          .when(col("item_name").rlike("(?i)\\bsalads?\\b") &&
            !col("final_category").rlike("(?i)catering"), "salads")
          .when(col("item_name").rlike("(?i)\\bburgers?\\b") &&
            !col("final_category").rlike("(?i)catering"), "burgers")
          .otherwise(col("final_category")))
      // P5 — test-data flag (`go-transform-elt.py:273-278`); null-safe: a
      // null category/name is NOT a test row (a bare rlike on null would
      // null the whole predicate and silently drop the row before apply's
      // na.fill could give it its default). Tests POST-transform labels —
      // a cleaned name can CREATE the substring "test" ("te*st" → "test").
      .withColumn("__is_test",
        coalesce(col("item_category").rlike("(?i)test"), lit(false)) ||
          coalesce(col("item_name").rlike("(?i)test"), lit(false)))
  }

  /** Row-date derivation + null fills. */
  private def rowColumns(df: DataFrame): DataFrame = df
    // datetime derivation (`go-transform-elt.py:318-326`): true date +
    // dd-MM-yyyy date_key + HH:mm:ss time
    .withColumn("__ts", to_timestamp(col("creation_time_utc")))
    .withColumn("date", col("__ts").cast("date"))
    .withColumn("date_key", date_format(col("__ts"), "dd-MM-yyyy"))
    .withColumn("time", date_format(col("__ts"), "HH:mm:ss"))
    .drop("__ts")
    // null fills (`go-transform-elt.py:331-336`; intended semantics for
    // item_category — see object doc)
    .na.fill(Map(
      "user_id" -> "_guest",
      "printed_card_number" -> "00000",
      "item_category" -> "uncategorized"))

  /** Full transform: name/category cleaning, size extraction, beverage
    * classification, final-category resolution + merges + keyword
    * reassignment, test-row removal, datetime derivation, null fills.
    *
    * One per-row chain, as the reference applies U1–U4
    * (`go-transform-elt.py:204-336`): a single map-only stage, all codegen,
    * with the rule loops in the native [[graft.functions.FirstMatchLabel]]
    * expression — no shuffle, no join, no cache.
    */
  def apply(orderItems: DataFrame, rules: MappingRuleSet = MappingRules.default): DataFrame = {
    val named = graft.ops.SchemaOps.normalizeColumnNames(orderItems)
    graft.ops.SchemaOps.assertColumns(named, Seq("item_category", "item_name"))
    rowColumns(labelColumns(named, rules)
      // `__fence` is an OPTIMIZER FENCE: P5 must test POST-transform
      // labels, but Catalyst pushes a filter below every projection,
      // substituting the full rule-chain expressions into the predicate
      // (~200 regex nodes re-evaluated per pre-filter row; measured 4×
      // end-to-end slowdown at sf0.1). PushDownPredicates only refuses
      // when the PROJECT carries a nondeterministic field (it pushes
      // nondeterministic and split-AND conditions just fine), so the
      // fence is a nondeterministic column in the projection below the
      // filter, kept alive by the always-false `__fence < 0` disjunct
      // (an OR is not conjunct-split).
      .withColumn("__fence", monotonically_increasing_id())
      .filter(!col("__is_test") || col("__fence") < 0)
      .drop("__fence", "__is_test"))
  }
}
