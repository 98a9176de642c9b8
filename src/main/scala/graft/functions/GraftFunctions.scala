package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/** Registration of graft's native Catalyst expressions.
  *
  * Two paths (both public Spark API):
  *  - [[GraftFunctions.register]]: imperative, per-session;
  *  - [[GraftExtensions]]: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    for cluster-wide injection at session build time.
  */
object GraftFunctions {

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (exprs => VecDotProduct(exprs(0), exprs(1))),
    "rolling_hash" -> (exprs => RollingHash(exprs.head)),
    "topk_structs" -> (exprs => {
      require(exprs.head.foldable, "topk_structs: k must be a literal")
      TopKStructs(exprs(1), exprs.head.eval().asInstanceOf[Number].intValue())
    }),
    "first_match_label" -> (exprs => {
      require(exprs.length == 3,
        "first_match_label(input, patterns, labels): 3 arguments")
      require(exprs(1).foldable && exprs(2).foldable,
        "first_match_label: patterns and labels must be literal arrays")
      def strings(e: Expression): Seq[String] =
        e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(org.apache.spark.sql.types.StringType)
          .map(v => if (v == null) null else v.toString).toSeq
      FirstMatchLabel(exprs(0), strings(exprs(1)), strings(exprs(2)))
    }))

  /** Register each function the session's registry lacks. Re-registering
    * a present one would replace it with an identical builder and log a
    * `replaced a previously registered function` WARN per call.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Register into both the thread-active and the default session — a plan
    * built on one thread may be analyzed by a session owned by another
    * (`SparkSession.active` is thread-local). Cluster installs should prefer
    * [[GraftExtensions]], which binds at session build time.
    */
  private def registerCurrent(): Unit = {
    register(SparkSession.active)
    SparkSession.getDefaultSession.foreach(register)
  }

  /** Column-API access; registers into the current sessions on first use. */
  def vec_dot(a: Column, b: Column): Column = {
    registerCurrent()
    call_function("vec_dot", a, b)
  }

  /** Column-API rolling hash (see [[RollingHash]]). */
  def rolling_hash(c: Column): Column = {
    registerCurrent()
    call_function("rolling_hash", c)
  }

  /** Column-API bounded top-k aggregate (see [[TopKStructs]]): the k
    * smallest struct values per group as a sorted array, with partial
    * buffers bounded at O(k) — the shuffle-bounded per-key top-k.
    */
  def topk_structs(k: Int, s: Column): Column = {
    registerCurrent()
    call_function("topk_structs", org.apache.spark.sql.functions.lit(k), s)
  }

  /** Column-API first-match rule classification (see [[FirstMatchLabel]]):
    * the label of the first `(pattern, label)` rule whose regex is found in
    * `c`, NULL when none matches — the codegen'd replacement for an N-branch
    * `when(rlike)` chain over a rule table.
    */
  def first_match_label(c: Column, rules: Seq[(String, String)]): Column = {
    registerCurrent()
    call_function("first_match_label", c,
      org.apache.spark.sql.functions.typedLit(rules.map(_._1)),
      org.apache.spark.sql.functions.typedLit(rules.map(_._2)))
  }
}

/** `SparkSessionExtensions` injector (set via `spark.sql.extensions`):
  * registers the function vocabulary and the [[RewriteDotProduct]] optimizer
  * rule. For an already-built session, the rule can also be attached with
  * `spark.experimental.extraOptimizations = Seq(RewriteDotProduct)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.VecDotProduct", name),
        builder))
    }
    ext.injectOptimizerRule(_ => RewriteDotProduct)
  }
}
