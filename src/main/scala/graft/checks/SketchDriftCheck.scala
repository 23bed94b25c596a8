package graft.checks

import graft.sketch.{functions => gf, KllSketch}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** KS drift against a PERSISTED reference profile: the reference side is a
  * serialized [[KllSketch]] (built once from a clean sample and stored in
  * the checkpoint/profile table), not a raw sample that would have to be
  * re-scanned every run — at 10^12 rows re-aggregating the reference each
  * time is the difference between a KB read and a full second pipeline.
  *
  * The observed side aggregates one sketch per partition (partial+final
  * hash agg, shuffle carries one blob per partition per task), and `kll_ks`
  * scores each part's sketch against the profile literal in the same plan,
  * as [[graft.streaming.StreamingValidation.windowedSketchDrift]] does per
  * window. A part whose column is all NULL has an empty sketch and reads
  * D = 1 against a non-empty profile.
  */
final case class SketchDriftCheck(
    column: String,
    referenceSketch: Array[Byte],
    threshold: Double = 0.05,
    k: Int = KllSketch.DefaultK,
    partCol: String = Check.PartCol) extends Check {

  val name = s"drift_kll_ks:$column"

  def run(df: DataFrame): CheckResult = {
    KllSketch.deserialize(referenceSketch) // validate the profile before shipping
    CheckResult(Check.emptyViolations(df.sparkSession),
      SketchDriftCheck.profileVerdicts(df, partCol, name, threshold,
        gf.kll_sketch(col(column).cast(DoubleType), k),
        gf.kll_ks(_, lit(referenceSketch))))
  }
}

object SketchDriftCheck {
  /** The plan of the two profile-sketch drift checks: per part, the
    * `sketch` aggregate (partial + final, one blob per part per task in
    * the shuffle), then `score` of it against the profile literal, once
    * per part and shared by `passed` and `metric_value`. NULL parts are
    * filtered before and after the int cast: a non-castable part value
    * fails the job under ANSI mode and turns NULL otherwise, and neither
    * must become a verdict. */
  private[checks] def profileVerdicts(df: DataFrame, partCol: String, name: String,
                                      threshold: Double, sketch: Column,
                                      score: Column => Column): DataFrame =
    df.where(col(partCol).isNotNull)
      .groupBy(col(partCol).cast(IntegerType).as("part"))
      .agg(sketch.as("sketch"))
      .where(col("part").isNotNull)
      .withColumn("_score", score(col("sketch")))
      .select(
        col("part"),
        lit(name).as("check"),
        (col("_score") <= threshold).as("passed"),
        lit(0L).as("violation_count"),
        col("_score").as("metric_value"))

  /** Build a reference profile sketch from a clean sample (run once,
    * persist the bytes in the profile/checkpoint table). */
  def buildProfile(df: DataFrame, column: String,
                   k: Int = KllSketch.DefaultK): Array[Byte] =
    df.agg(gf.kll_sketch(col(column).cast(DoubleType), k))
      .head().getAs[Array[Byte]](0)
}
