package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referential-integrity check: fact FK ⊆ allowed dimension keys, via an
  * explicit broadcast anti-join (SURVEY.md §2.8) — the table-level analog
  * of jsen's `enum` against a dynamic, externally-supplied value set
  * (the `options.schemas` registry re-expressed as a dimension table).
  *
  * The dimension is broadcast: at 10^12 fact rows the anti-join stays a
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
    idCol: String = Check.IdCol,
    partsUniverse: Option[DataFrame] = None) extends Check {

  val name = "referential"
  override def withPartsUniverse(parts: DataFrame): Check =
    copy(partsUniverse = Some(parts))

  def run(df: DataFrame): CheckResult = {
    val allowed0 = activeCol match {
      case Some(a) if dim.columns.contains(a) => dim.where(col(a))
      case _ => dim
    }
    val allowed = allowed0.select(col(dimKeyCol).as(fkCol)).distinct()

    val violations = df
      .join(broadcast(allowed), Seq(fkCol), "left_anti")
      .select(
        col(partCol).as("part"),
        col(idCol).cast("string").as("doc_id"),
        lit(fkCol).as("path"),
        lit("referential").as("keyword"),
        lit(s"value not in dimension '$dimKeyCol'").as("message"),
        col(fkCol).cast("string").as("additional_properties"),
        lit(name).as("check"))

    val perPart = violations.groupBy("part").agg(count(lit(1)).as("violation_count"))
    CheckResult(violations,
      Check.verdictsFromCounts(df, perPart, name,
        partCol = partCol, universe = partsUniverse))
  }
}
