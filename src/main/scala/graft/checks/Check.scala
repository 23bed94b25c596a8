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

  /** Inject the partition universe as a LAZY (typically cached)
    * DataFrame with one `part` column (e.g. from a table catalog, or a
    * literal list as `parts.toDF("part")`). Standalone `run(df)`
    * discovers partitions itself (a distinct scan of the partition
    * column). The pipeline uses this hook to fold discovery into the
    * verdict write job — one shared cached subtree, zero dedicated
    * upfront jobs — rather than running an eager discovery scan before
    * any check starts. Custom checks that need a partition universe
    * should override it. Default: ignore (checks that aggregate
    * `groupBy(part)` directly never discover). */
  def withPartsUniverse(parts: DataFrame): Check = this
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

  /** Verdict frame builder: every partition of the universe (`universe`,
    * else those present in `df`) gets a verdict row even when it has zero
    * violations (absent partitions must read as passed, not as missing).
    * `perPart` carries (part, violation_count [, metric_value]). */
  def verdictsFromCounts(df: DataFrame, perPart: DataFrame, checkName: String,
                         metricValue: Column = lit(null).cast(DoubleType),
                         partCol: String = PartCol,
                         universe: Option[DataFrame] = None): DataFrame = {
    // the injected universe, else a distinct scan of the partition
    // column, normalized to the canonical name so a check configured
    // with partCol="day" builds the right universe
    val parts = universe.map(_.toDF(partCol))
      .getOrElse(df.select(col(partCol)).distinct())
      .select(col(partCol).as(PartCol))
    val counts = perPart.withColumnRenamed("part", "vpart")
    parts.join(counts, parts(PartCol) === counts("vpart"), "left")
      .select(
        col(PartCol),
        lit(checkName).as("check"),
        (coalesce(col("violation_count"), lit(0L)) === 0L).as("passed"),
        coalesce(col("violation_count"), lit(0L)).as("violation_count"),
        (if (perPart.columns.contains("metric_value"))
           coalesce(col("metric_value"), lit(null).cast(DoubleType))
         else metricValue).as("metric_value"))
  }

  def emptyViolations(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), violationsSchema)
}
