package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Schema normalization/enforcement operators (SURVEY.md §1.3, §2.2 P1–P3).
  *
  * Re-expresses the reference's `enforce_types` / `rearrange_columns_typed`
  * (`go-quality-elt.py:206-225`) and the lowercase/trim column normalization
  * (`go-transform-elt.py:185-201`) as single `select` projections — one
  * codegen stage, no per-column loops over data.
  */
object SchemaOps {

  /** P1 — normalize column names: trim + lowercase. */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(_.trim.toLowerCase): _*)

  /** P2 — lower(trim(c)) for every string column, one projection
    * (`go-quality-elt.py:96-103`).
    */
  def normalizeStringValues(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == StringType) lower(trim(col(f.name))).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)

  /** P3 — canonical schema: add missing columns as typed nulls, reorder,
    * cast. `spec` is (name, sparkSqlType) in the canonical order.
    */
  def rearrangeColumnsTyped(df: DataFrame, spec: Seq[(String, String)]): DataFrame = {
    val present = df.columns.toSet
    df.select(spec.map { case (name, tpe) =>
      if (present(name)) col(name).cast(tpe).as(name)
      else lit(null).cast(tpe).as(name)
    }: _*)
  }

  /** P8 — required-column assertion (`go-transform-elt.py:190-193`). */
  def assertColumns(df: DataFrame, required: Seq[String]): Unit = {
    val missing = required.filterNot(df.columns.toSet)
    require(missing.isEmpty, s"missing required columns: ${missing.mkString(", ")}")
  }
}
