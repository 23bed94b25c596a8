package graft.checks

import graft.sketch.{BloomFunctions, BloomSketch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-screened referential check — the 100-TB scale path for
  * dimensions too large to broadcast as rows: the dimension collapses
  * to one compact bit-array blob via a partial-combined aggregation
  * (each task a local filter, the shuffle carries blobs, reducers OR),
  * and the fact scan probes the blob per row with ZERO joins — no
  * shuffle of either side beyond the KB-MB blob itself.
  *
  * Semantics: the filter has NO false negatives, so every flagged row
  * is a DEFINITE violation; a false positive (≈ `fpp`) lets a violation
  * escape the screen. Production shape: run this screen over the full
  * fact table, then confirm/complete with [[ReferentialCheck]]'s exact
  * anti-join only where exactness is required — the blob also persists
  * via [[graft.pipeline.IndexStore]] (kind "bloom") so later runs skip
  * the dimension aggregation entirely ([[fromBlob]]). */
final case class ReferentialBloomCheck(
    fkCol: String,
    dim: DataFrame,
    dimKeyCol: String,
    expectedKeys: Long,
    fpp: Double = 0.001,
    activeCol: Option[String] = Some("active"),
    partCol: String = Check.PartCol,
    idCol: String = Check.IdCol,
    partsUniverse: Option[DataFrame] = None) extends Check {

  val name = "referential_bloom"
  override def withPartsUniverse(parts: DataFrame): Check =
    copy(partsUniverse = Some(parts))

  /** One aggregation over the dimension → the serialized filter.
    * Driver-held and bounded by the sized bit count, not the key count's
    * row width; persist with IndexStore.saveProfile(blob, "bloom", …). */
  def buildFilter(): Array[Byte] = {
    val allowed0 = activeCol match {
      case Some(a) if dim.columns.contains(a) => dim.where(col(a))
      case _ => dim
    }
    allowed0.agg(BloomFunctions.bloom_agg(
      col(dimKeyCol).cast("string"), expectedKeys, fpp)).head().getAs[Array[Byte]](0)
  }

  def run(df: DataFrame): CheckResult =
    ReferentialBloomCheck.fromBlob(buildFilter(), fkCol, dimKeyCol,
      partCol, idCol, partsUniverse).run(df)
}

object ReferentialBloomCheck {

  /** The probe side alone, against a prebuilt (possibly persisted)
    * filter blob — the incremental-run shape. */
  final case class FromBlob(
      blob: Array[Byte],
      fkCol: String,
      dimKeyCol: String,
      partCol: String = Check.PartCol,
      idCol: String = Check.IdCol,
      partsUniverse: Option[DataFrame] = None) extends Check {

    val name = "referential_bloom"
    override def withPartsUniverse(parts: DataFrame): Check =
      copy(partsUniverse = Some(parts))

    def run(df: DataFrame): CheckResult = {
      BloomSketch.deserialize(blob) // validate geometry before shipping
      val violations = df
        .where(!BloomFunctions.bloom_contains(lit(blob),
          col(fkCol).cast("string")))
        .select(
          col(partCol).as("part"),
          col(idCol).cast("string").as("doc_id"),
          lit(fkCol).as("path"),
          lit("referential").as("keyword"),
          lit(s"value not in dimension '$dimKeyCol' (bloom-definite)").as("message"),
          col(fkCol).cast("string").as("additional_properties"),
          lit(name).as("check"))
      val perPart = violations.groupBy("part").agg(count(lit(1)).as("violation_count"))
      CheckResult(violations,
        Check.verdictsFromCounts(df, perPart, name,
          partCol = partCol, universe = partsUniverse))
    }
  }

  def fromBlob(blob: Array[Byte], fkCol: String, dimKeyCol: String,
               partCol: String = Check.PartCol, idCol: String = Check.IdCol,
               partsUniverse: Option[DataFrame] = None): FromBlob =
    FromBlob(blob, fkCol, dimKeyCol, partCol, idCol, partsUniverse)
}
