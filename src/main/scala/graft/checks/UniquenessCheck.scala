package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-uniqueness check via salted two-phase aggregation (SURVEY.md §2.8,
  * §7.4.7) — built to survive source-key skew at 10^12 rows.
  *
  * Phase 1 groups by (key, salt) where the salt spreads identical keys
  * across reducers, so a pathological key with 10^9 occurrences becomes S
  * partial counts instead of one reducer-melting group; phase 2 merges the
  * per-salt counts, which is at most S rows per key. With Spark's partial
  * (map-side) aggregation phase 1 is usually combined before the shuffle
  * too, so the extra phase costs one narrow aggregation over already-tiny
  * data.
  *
  * NULL keys are excluded: missing ≡ NULL is a `required` violation owned
  * by the row-constraint check, not a duplicate.
  */
final case class UniquenessCheck(
    keyCol: String = Check.IdCol,
    saltBuckets: Int = 64,
    partCol: String = Check.PartCol,
    partsUniverse: Option[DataFrame] = None) extends Check {

  val name = "uniqueness"
  override def isGlobal: Boolean = true
  override def withPartsUniverse(parts: DataFrame): Check =
    copy(partsUniverse = Some(parts))

  def run(df: DataFrame): CheckResult = {
    val keyed = df.where(col(keyCol).isNotNull)

    // phase 1: per-(key, salt) partial counts; the salt is derived from the
    // physical partition so identical keys in different input splits land
    // in different groups
    val phase1 = keyed
      .groupBy(col(keyCol), pmod(spark_partition_id(), lit(saltBuckets)).as("_salt"))
      .agg(count(lit(1)).as("cnt"))

    // phase 2: merge salt buckets; duplicates are keys with total > 1
    val dups = phase1
      .groupBy(col(keyCol))
      .agg(sum("cnt").as("total"))
      .where(col("total") > 1)
      .select(col(keyCol), col("total"))

    // every occurrence of a duplicated key is a violation row; the dup set
    // is expected to be small relative to the input — let AQE pick a
    // broadcast join when it is
    val violations = keyed
      .join(dups, Seq(keyCol))
      .select(
        col(partCol).as("part"),
        col(keyCol).cast("string").as("doc_id"),
        lit(keyCol).as("path"),
        lit("unique").as("keyword"),
        concat(lit("duplicate key ("), col("total"), lit(" occurrences)")).as("message"),
        lit(null).cast("string").as("additional_properties"),
        lit(name).as("check"))

    val perPart = violations.groupBy("part").agg(count(lit(1)).as("violation_count"))
    CheckResult(violations,
      Check.verdictsFromCounts(df, perPart, name,
        partCol = partCol, universe = partsUniverse))
  }
}
