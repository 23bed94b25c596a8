package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-uniqueness check via one key-count aggregation (SURVEY.md §2.8,
  * §7.4.7), skew-safe at 10^12 rows: the aggregation is partial
  * (map-side) first, so each map task sends one (key, count) row per
  * distinct key it read, and a pathological key with 10^9 occurrences
  * reaches its reducer as at most one row per map task, never as 10^9
  * rows. A salt on the grouping key adds nothing to that bound and costs
  * one more exchange of every distinct key.
  *
  * NULL keys are excluded: missing ≡ NULL is a `required` violation owned
  * by the row-constraint check, not a duplicate.
  */
final case class UniquenessCheck(
    keyCol: String = Check.IdCol,
    partCol: String = Check.PartCol) extends Check {

  val name = "uniqueness"
  override def isGlobal: Boolean = true

  def run(df: DataFrame): CheckResult = {
    // duplicates are keys with total > 1
    val dups = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("total"))
      .where(col("total") > 1)

    // every row marked with its key's total when the key is duplicated:
    // the dup set is expected to be small relative to the input — let AQE
    // pick a broadcast join when it is (when it is not, AQE's skew-join
    // split covers a part full of NULL keys). The left join keeps every
    // row, so the verdict aggregate sees every part of the input.
    val marked = df.join(dups, Seq(keyCol), "left")
    val violations = marked
      .where(col("total").isNotNull)
      .select(
        col(partCol).as("part"),
        col(keyCol).cast("string").as("doc_id"),
        lit(keyCol).as("path"),
        lit("unique").as("keyword"),
        concat(lit("duplicate key ("), col("total"), lit(" occurrences)")).as("message"),
        lit(null).cast("string").as("additional_properties"),
        lit(name).as("check"))

    CheckResult(violations,
      Check.countVerdicts(marked, col("total").isNotNull, name, partCol))
  }
}
