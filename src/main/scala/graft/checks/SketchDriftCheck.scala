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
    partCol: String = Check.PartCol) extends PerPartCheck {

  val name = s"drift_kll_ks:$column"

  def partAggregate(df: DataFrame, id: String): PartAggregate = {
    KllSketch.deserialize(referenceSketch) // validate the profile before shipping
    SketchDriftCheck.profileForm(id, name, threshold,
      gf.kll_sketch(col(column).cast(DoubleType), k), gf.kll_ks(_, lit(referenceSketch)))
  }
}

object SketchDriftCheck {
  /** The form of the two profile-sketch drift checks: per part, the
    * `sketch` aggregate (partial + final, one blob per part per task in
    * the shuffle), then `score` of it against the profile literal, once
    * per part and shared by `passed` and `metric_value`. */
  private[checks] def profileForm(id: String, name: String, threshold: Double,
                                  sketch: Column, score: Column => Column): PartAggregate = {
    val metric = col(s"${id}score")
    PartAggregate(
      aggs = Seq(sketch.as(s"${id}sketch")),
      scores = Seq(score(col(s"${id}sketch")).as(s"${id}score")),
      verdicts = Seq(PartAggregate.verdict(name, metric <= threshold, lit(0L), metric)))
  }

  /** Build a reference profile sketch from a clean sample (run once,
    * persist the bytes in the profile/checkpoint table). */
  def buildProfile(df: DataFrame, column: String,
                   k: Int = KllSketch.DefaultK): Array[Byte] =
    df.agg(gf.kll_sketch(col(column).cast(DoubleType), k))
      .head().getAs[Array[Byte]](0)
}
