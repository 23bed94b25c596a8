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
  * is given (jsen `lib/jsen.js:1069-1073`).
  *
  * A check whose verdicts are one aggregate per part is a [[PerPartCheck]]:
  * its verdicts come from a [[PartAggregate]], which the pipeline fuses
  * with every other per-part check's into one `groupBy(part)` over the
  * input, as jsen compiles a whole schema into one validator that judges
  * an instance in one pass (`lib/jsen.js:1051-1089`). The fused
  * aggregate's memory, per part and map task, is the sum of the fused
  * checks' buffers; a drift check's `key_counts` buffer holds one entry
  * per distinct key of the part. */
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

/** A check whose verdicts are read off one aggregate per part: row
  * constraints, column stats and the drift checks. Its standalone `run`
  * evaluates its own [[PartAggregate]] alone; [[graft.pipeline.ValidationPipeline]]
  * evaluates the forms of all its per-part checks in one aggregate, so
  * the input is read once for all of their verdicts. */
trait PerPartCheck extends Check {
  def partCol: String

  /** This check's aggregate form over `df`. Every column it names starts
    * with `id`, so that the forms of several checks fuse without a name
    * clash. Building it starts no job. */
  def partAggregate(df: DataFrame, id: String): PartAggregate

  /** The violation rows: none, unless the check judges rows. */
  def violations(df: DataFrame): DataFrame = Check.emptyViolations(df.sparkSession)

  def run(df: DataFrame): CheckResult = CheckResult(violations(df),
    PartAggregate.verdicts(df, partCol, Seq(partAggregate(df, _))))
}

/** A check's per-part aggregate form over one input frame. Every column
  * is named, with the id the check was given as a prefix.
  *
  * @param aggs     aggregate columns over the rows of one part
  * @param verdicts verdict rows over the aggregated row, each a
  *                 [[PartAggregate.verdict]] struct; NULL means no row
  * @param rows     per-row columns over the input, projected once per row
  *                 before the aggregate, for a value the aggregates read
  *                 more than once
  * @param refs     one-row frames crossed into the aggregated row as
  *                 broadcasts (a drift check's reference)
  * @param scores   columns over the aggregated row (with its refs), each
  *                 evaluated once per part, for a value several verdict
  *                 fields read
  */
final case class PartAggregate(
    aggs: Seq[Column],
    verdicts: Seq[Column],
    rows: Seq[Column] = Nil,
    refs: Seq[DataFrame] = Nil,
    scores: Seq[Column] = Nil)

object PartAggregate {
  /** One verdict row, less its part. */
  def verdict(check: String, passed: Column, violationCount: Column, metric: Column): Column =
    struct(
      lit(check).as("check"),
      passed.cast(BooleanType).as("passed"),
      violationCount.cast(LongType).as("violation_count"),
      metric.cast(DoubleType).as("metric_value"))

  /** The verdict rows of `forms` over `df`, in [[Check.verdictsSchema]]'s
    * columns, from ONE aggregate: the rows' columns are projected once,
    * one `groupBy(part)` holds every form's aggregate columns, and one
    * projection emits every verdict row as
    * `inline(filter(array(verdicts…), v -> v IS NOT NULL))`. A union of
    * one select per verdict would not do: column pruning splits the
    * aggregate under each select into one aggregate, and so one input
    * scan, per select. Each form gets the id `__p<i>_`. A NULL part (and,
    * without ANSI mode, a part that does not cast to int) gets no verdict. */
  def verdicts(df: DataFrame, partCol: String, forms: Seq[String => PartAggregate]): DataFrame = {
    val fs = forms.zipWithIndex.map { case (f, i) => f(s"__p${i}_") }
    val aggs = fs.flatMap(_.aggs)
    // the part as an int column of the input, so the aggregate groups by
    // an attribute: a cast in the grouping would be pulled out into a
    // projection and shuffle on `_groupingexpression`
    val intPart =
      if (df.schema(partCol).dataType == IntegerType) df
      else df.withColumn(partCol, col(partCol).cast(IntegerType))
    val grouped = intPart.select(col("*") +: fs.flatMap(_.rows): _*)
      .groupBy(col(partCol).as(Check.PartCol))
      .agg(aggs.head, aggs.tail: _*)
      .where(col(Check.PartCol).isNotNull)
    fs.flatMap(_.refs).foldLeft(grouped)((g, r) => g.crossJoin(broadcast(r)))
      .select(col("*") +: fs.flatMap(_.scores): _*)
      .select(col(Check.PartCol),
        inline(filter(array(fs.flatMap(_.verdicts): _*), _.isNotNull)))
  }
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
