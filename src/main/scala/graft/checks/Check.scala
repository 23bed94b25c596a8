package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A table-level check producing the two canonical output shapes
  * (FIXTURES.md §5):
  *
  *  - violations: (part, doc_id, path, keyword, message,
  *    additional_properties, check) — the table-level extension of jsen's
  *    error records (/root/reference/lib/jsen.js:871-903);
  *  - verdicts: (part, check, passed, violation_count, metric_value) —
  *    per-Iceberg-partition pass/fail, the analog of `validate(data)`'s
  *    boolean return re-expressed per partition.
  */
final case class CheckResult(violations: DataFrame, verdicts: DataFrame)

/** The contract is lazy: `run` builds plans and starts no Spark job, so
  * its frames run only when the caller acts on them, and the caller's
  * actions (a write, a collect) decide how often the input is read. The
  * verdict parts are the parts of the rows `run` is given: one verdict
  * row per part of the input and verdict name, including a part with no
  * violation, as jsen's `validate(data)` judges exactly the instance it
  * is given (jsen `lib/jsen.js:1069-1073`). */
trait Check extends Serializable {
  def name: String
  def run(df: DataFrame): CheckResult

  /** Global checks (e.g. uniqueness) have cross-partition semantics: a
    * duplicate pair can span a committed and a pending partition. On
    * resume the pipeline feeds them the FULL input and filters their
    * outputs to pending partitions, so a resumed run's outputs are
    * identical to an uninterrupted run's. (The 10^12-scale alternative —
    * a persisted mergeable key-count sketch per partition — keeps the
    * same Check interface; this flag is the contract either way.) */
  def isGlobal: Boolean = false
}

object Check {
  val PartCol = "part"
  val IdCol = "doc_id"

  val violationsSchema: StructType = StructType(Seq(
    StructField("part", IntegerType),
    StructField("doc_id", StringType),
    StructField("path", StringType),
    StructField("keyword", StringType),
    StructField("message", StringType),
    StructField("additional_properties", StringType),
    StructField("check", StringType)))

  val verdictsSchema: StructType = StructType(Seq(
    StructField("part", IntegerType),
    StructField("check", StringType),
    StructField("passed", BooleanType),
    StructField("violation_count", LongType),
    StructField("metric_value", DoubleType)))

  /** Count verdicts from one marked frame: per part of `marked`, the
    * number of rows where `violating` holds (a NULL mark is no violation),
    * so a part without violations reads passed with a count of 0. */
  def countVerdicts(marked: DataFrame, violating: Column, checkName: String,
                    partCol: String = PartCol): DataFrame =
    marked.groupBy(col(partCol).as(PartCol))
      .agg(count(when(violating, lit(1))).as("violation_count"))
      .select(
        col(PartCol),
        lit(checkName).as("check"),
        (col("violation_count") === 0L).as("passed"),
        col("violation_count"),
        lit(null).cast(DoubleType).as("metric_value"))

  def emptyViolations(spark: org.apache.spark.sql.SparkSession): DataFrame =
    empty(spark, violationsSchema)

  def emptyVerdicts(spark: org.apache.spark.sql.SparkSession): DataFrame =
    empty(spark, verdictsSchema)

  private def empty(spark: org.apache.spark.sql.SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
}
