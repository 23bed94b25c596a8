package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referential-integrity check: fact FK ⊆ allowed dimension keys, via an
  * explicit broadcast join (SURVEY.md §2.8) — the table-level analog
  * of jsen's `enum` against a dynamic, externally-supplied value set
  * (the `options.schemas` registry re-expressed as a dimension table).
  *
  * The dimension is broadcast: at 10^12 fact rows the join stays a
  * map-side hash probe with zero shuffle of the fact table. Rows with
  * `active = false` in the dimension count as violations too
  * (FIXTURES.md §2).
  */
final case class ReferentialCheck(
    fkCol: String,
    dim: DataFrame,
    dimKeyCol: String,
    activeCol: Option[String] = Some("active"),
    partCol: String = Check.PartCol,
    idCol: String = Check.IdCol) extends Check {

  val name = "referential"

  def run(df: DataFrame): CheckResult = {
    val allowed0 = activeCol match {
      case Some(a) if dim.columns.contains(a) => dim.where(col(a))
      case _ => dim
    }
    val allowed = allowed0.select(col(dimKeyCol).as(fkCol)).distinct()
      .withColumn("_allowed", lit(true))

    // every row marked by a left join to the allowed keys: an unmarked row
    // (a NULL or unknown key) is a violation, and the verdict aggregate
    // sees every part of the input
    val marked = df.join(broadcast(allowed), Seq(fkCol), "left")
    val violations = marked
      .where(col("_allowed").isNull)
      .select(
        col(partCol).as("part"),
        col(idCol).cast("string").as("doc_id"),
        lit(fkCol).as("path"),
        lit("referential").as("keyword"),
        lit(s"value not in dimension '$dimKeyCol'").as("message"),
        col(fkCol).cast("string").as("additional_properties"),
        lit(name).as("check"))

    CheckResult(violations,
      Check.countVerdicts(marked, col("_allowed").isNull, name, partCol))
  }
}
