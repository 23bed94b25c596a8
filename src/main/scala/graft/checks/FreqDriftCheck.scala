package graft.checks

import graft.sketch.{FreqFunctions, FreqSketch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Categorical drift against a PERSISTED frequency profile — the
  * [[SketchDriftCheck]] twin for string columns: the reference side is a
  * serialized [[FreqSketch]] (built once from a clean sample, stored in
  * the profile/checkpoint table), the observed side aggregates one
  * bounded sketch per partition (partial+final hash agg; the shuffle
  * carries blobs, never the category key space), and `freq_chi2` scores
  * each part's sketch with a chi²-style statistic over the PROFILE's
  * categories in the same plan, as
  * [[graft.streaming.StreamingValidation.windowedFreqDrift]] does per
  * window.
  *
  * Cells are the profile's surviving categories PLUS an "other" cell
  * holding the mass outside them (totalSeen − Σ entries, both sides), so
  * drift into categories the clean profile never surfaced is visible:
  * novel mass lands in "other", whose clean expectation is (near) zero,
  * and the 0.5 expected-count floor turns it into a large statistic.
  * Arithmetic is rational (no transcendentals), so a SQL oracle can
  * restate it exactly.
  *
  * Lossy-regime honesty: size `capacity` comfortably above the column's
  * categorical cardinality (the sketch exists to stay bounded if an
  * upstream bug explodes cardinality, not to run permanently saturated).
  * If a profiled category is evicted from the observed sketch, its
  * space-saving UPPER bound (the sketch offset) is used as the cell
  * count — per-cell error is ≤ offset + err, and the failure direction
  * under saturation is a drift FLAG, never a silent pass.
  */
final case class FreqDriftCheck(
    column: String,
    referenceSketch: Array[Byte],
    threshold: Double,
    capacity: Int = FreqSketch.DefaultCapacity,
    partCol: String = Check.PartCol) extends PerPartCheck {

  val name = s"drift_freq_chi2:$column"

  def partAggregate(df: DataFrame, id: String): PartAggregate = {
    FreqSketch.deserialize(referenceSketch) // validate the profile before shipping
    SketchDriftCheck.profileForm(id, name, threshold,
      FreqFunctions.freq_sketch(col(column).cast(StringType), capacity),
      FreqFunctions.freq_chi2(_, lit(referenceSketch)))
  }
}

object FreqDriftCheck {
  /** Build a reference profile sketch from a clean sample (run once,
    * persist the bytes in the profile/checkpoint table). */
  def buildProfile(df: DataFrame, column: String,
                   capacity: Int = FreqSketch.DefaultCapacity): Array[Byte] =
    df.agg(FreqFunctions.freq_sketch(col(column).cast(StringType), capacity))
      .head().getAs[Array[Byte]](0)

  /** Chi²-style statistic over the reference's categories plus an
    * "other" cell (mass outside them): expected cell mass = ref share ×
    * observed total, with the standard 0.5 expected-count floor
    * ([[Chi2DriftCheck]] uses the same). A profiled category evicted
    * from the observed sketch counts as its space-saving upper bound
    * (the offset) — see the class doc for the bias direction.
    * Deterministic: cells are summed in sorted category order. */
  def chiSquare(obs: FreqSketch, ref: FreqSketch): Double = {
    val cats = ref.topK(ref.size).sortBy(_._1)
    val refEntries = cats.map(_._2).sum
    val refTotal = math.max(ref.totalSeen, refEntries).toDouble
    if (refTotal == 0) return 0.0
    val o = cats.map { case (t, _, _) =>
      obs.countIfPresent(t).getOrElse(obs.offset).toDouble }
    val n = obs.totalSeen.toDouble
    val cells =
      cats.zip(o).map { case ((_, r, _), oi) => (r.toDouble, oi) } :+
        ((refTotal - refEntries, math.max(n - o.sum, 0.0))) // "other"
    cells.map { case (r, oi) =>
      val e = (r / refTotal) * n
      math.pow(oi - e, 2) / math.max(e, 0.5)
    }.sum
  }

  /** Population Stability Index over the reference's categories plus the
    * same "other" cell — [[PsiDriftCheck]]'s statistic computed from two
    * sketch blobs, so streaming windows can score PSI in-plan against a
    * persisted profile literal. Scale-free in both totals (proportions
    * only); zero-mass cells clamp to `epsilon` exactly as the batch
    * check does. Deterministic: cells sum in sorted category order. */
  def psi(obs: FreqSketch, ref: FreqSketch, epsilon: Double = 1e-6): Double = {
    val cats = ref.topK(ref.size).sortBy(_._1)
    val refEntries = cats.map(_._2).sum
    val refTotal = math.max(ref.totalSeen, refEntries).toDouble
    if (refTotal == 0) return 0.0
    val o = cats.map { case (t, _, _) =>
      obs.countIfPresent(t).getOrElse(obs.offset).toDouble }
    val n = math.max(obs.totalSeen.toDouble, 1.0)
    val cells =
      cats.zip(o).map { case ((_, r, _), oi) => (r.toDouble, oi) } :+
        ((refTotal - refEntries, math.max(n - o.sum, 0.0))) // "other"
    cells.map { case (r, oi) =>
      val rp = math.max(r / refTotal, epsilon)
      val op = math.max(oi / n, epsilon)
      (op - rp) * math.log(op / rp)
    }.sum
  }
}
