package graft.checks

import graft.Validator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Row-level constraint validation as a table check: the direct analog of
  * running `validate(data)` over every instance
  * (/root/reference/lib/jsen.js:1069-1073), with verdicts aggregated per
  * partition.
  *
  * Scale notes: the validator is a pure projection (narrow, whole-stage
  * codegen, zero shuffle); the verdict aggregation shuffles only
  * `(part, valid-count, violation-count)` partials — bytes per partition,
  * not per row. The violations are a second projection of the same
  * compiled columns, the only per-part check with violation rows.
  */
final case class RowConstraintCheck(
    validator: Validator,
    partCol: String = Check.PartCol,
    idCol: String = Check.IdCol) extends PerPartCheck {

  val name = "row_constraint"

  private def compiled(df: DataFrame) =
    graft.compile.ConstraintCompiler.compile(validator.spec, df.schema, validator.options)

  override def violations(df: DataFrame): DataFrame = {
    val c = compiled(df)
    df.where(!c.valid)
      .select(
        col(partCol).as("part"),
        col(idCol).cast("string").as("doc_id"),
        explode(c.errors).as("error"))
      .select(
        col("part"), col("doc_id"),
        col("error.path").as("path"),
        col("error.keyword").as("keyword"),
        col("error.message").as("message"),
        col("error.additionalProperties").as("additional_properties"),
        lit(name).as("check"))
  }

  /** Per part: every row valid, the error count of the invalid rows, and
    * the valid-rate as the metric. */
  def partAggregate(df: DataFrame, id: String): PartAggregate = {
    val c = compiled(df)
    val valid = col(s"${id}valid")
    PartAggregate(
      rows = Seq(c.valid.as(s"${id}valid"), c.errors.as(s"${id}errors")),
      aggs = Seq(
        bool_and(valid).as(s"${id}passed"),
        sum(when(valid, lit(0L)).otherwise(size(col(s"${id}errors")).cast("long")))
          .as(s"${id}errors_n"),
        avg(valid.cast(DoubleType)).as(s"${id}valid_rate")),
      verdicts = Seq(PartAggregate.verdict(name,
        col(s"${id}passed"), col(s"${id}errors_n"), col(s"${id}valid_rate"))))
  }
}
