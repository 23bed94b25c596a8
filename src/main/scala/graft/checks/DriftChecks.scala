package graft.checks

import graft.sketch.KeyCountsFunctions.{key_counts, key_counts_score}
import graft.sketch.SortedKeyCounts
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/* Distribution-drift checks against a reference sample (SURVEY.md §2.8):
  * two-sample Kolmogorov–Smirnov on a numeric column, chi-square on a
  * categorical/token histogram and PSI on binned proportions.
  *
  * Scale design ([[KeyCountDrift]]): each check is one exact aggregate,
  * `key_counts(key)` ([[graft.sketch.KeyCounts]]), grouped by part. Map
  * tasks keep one count buffer per part, so the input's only shuffle
  * carries one blob per part per task, hash-partitioned on `part`; no
  * `(part, key)` rows are exchanged and nothing is joined against the
  * input. The reference is one `key_counts` row, broadcast, and a
  * per-part Catalyst expression scores the two buffers by walking the
  * sorted union of their keys.
  *  - KS accumulates long counts along that walk and divides
  *    `cum / max(total, 1)` at each key: the exact two-sample D, bit for
  *    bit, with no join or window.
  *  - Chi-square and PSI sum a term `t(o, n, p)` over the union of keys,
  *    equal to the term-for-term sum up to float summation order.
  * Keys that evaluate to NULL are skipped, and NULL parts get no verdict.
  *
  * Memory: a part's buffer holds one entry per distinct key of the part,
  * the same bound the broadcast reference already puts on the vocabulary
  * (10^4–10^5 token keys are fine). [[FreqDriftCheck]] is the
  * bounded-memory alternative for unbounded key spaces.
  */

/** Two-sample Kolmogorov–Smirnov distance per part between the binned
  * column (`bin`, identity by default) and the reference: the largest
  * gap between the two empirical CDFs over the union of bins. A part
  * whose column is entirely NULL reads its total as 1, so its CDF stays
  * at 0 and it fails loudly with D = 1 when the reference is non-empty. */
final case class KsDriftCheck(
    column: String,
    reference: DataFrame,
    threshold: Double = 0.05,
    bin: Column => Column = identity,
    partCol: String = Check.PartCol) extends Check {

  val name = s"drift_ks:$column"

  def run(df: DataFrame): CheckResult = {
    val keyed = df.select(col(partCol).as("part"), KeyCountDrift.binned(column, bin).as("key"))
    val refKeys = reference.select(KeyCountDrift.binned(column, bin).as("key"))
    val verdicts = KeyCountDrift.verdicts(name, threshold, keyed, refKeys,
      "ks_drift", KeyCountDrift.ks)
    CheckResult(Check.emptyViolations(df.sparkSession), verdicts)
  }
}

/** Chi-square drift over a histogram (e.g. token frequencies via
  * `explode(tokens)`). `keyExpr` maps a row to the histogram key column —
  * pass `explode(col("tokens"))` for token histograms or `col("source")`
  * for categorical columns. Expected counts come from the reference's
  * relative frequencies scaled to each partition's total, floored at 0.5
  * to keep the statistic finite for unseen categories: per part, the sum
  * over the union of observed and reference keys of
  * `(o − p·n)² / max(p·n, 0.5)`, within float summation order of the
  * term-for-term sum (see [[KeyCountDrift]]). */
final case class Chi2DriftCheck(
    keyName: String,
    keyExpr: Column,
    reference: DataFrame,
    refKeyExpr: Column,
    threshold: Double,
    keyTransform: Column => Column = identity,
    partCol: String = Check.PartCol) extends Check {

  val name = s"drift_chi2:$keyName"

  def run(df: DataFrame): CheckResult = {
    // generators (explode) must be top-level in a select; the transform
    // (e.g. bucketing `% B`) is applied in a second projection
    val keys = df.select(col(partCol).as("part"), keyExpr.as("key0"))
      .select(col("part"), keyTransform(col("key0")).as("key"))
    // a generator key drops rows (explode of an empty array), so every
    // input row's part is added once more with a NULL key, which the
    // aggregate merges into the part's buffer without counting it
    val keyed = keys.unionByName(df.select(col(partCol).as("part"),
      lit(null).cast(keys.schema("key").dataType).as("key")))
    val refKeys = reference.select(refKeyExpr.as("key0"))
      .select(keyTransform(col("key0")).as("key"))
    val verdicts = KeyCountDrift.verdicts(name, threshold, keyed, refKeys, "chi2_drift",
      KeyCountDrift.termSum((o, n, p) => math.pow(o - p * n, 2) / math.max(p * n, 0.5)))
    CheckResult(Check.emptyViolations(df.sparkSession), verdicts)
  }
}

/** Population Stability Index — the standard production-ML drift metric
  * (Σ (oᵢ−rᵢ)·ln(oᵢ/rᵢ) over bins of observed vs reference PROPORTIONS;
  * conventional reading: <0.1 stable, 0.1–0.25 moderate shift, >0.25
  * drifted — the default threshold). Complements KS (sensitive to the
  * largest single CDF gap) and chi² (count-scaled): PSI is scale-free in
  * the sample sizes, so the same threshold works for a 10^6-row part and
  * a 10^10-row part. Zero-mass bins on either side are clamped to
  * `epsilon` — the standard finite-PSI convention; an unseen-in-reference
  * bin thus contributes a large-but-finite term instead of ∞. A part with
  * no non-NULL value reads its total as 1, so every observed proportion
  * is clamped.
  *
  * Same plan as [[Chi2DriftCheck]] (see [[KeyCountDrift]]), with the PSI
  * term; within float summation order of the term-for-term sum. */
final case class PsiDriftCheck(
    column: String,
    reference: DataFrame,
    threshold: Double = 0.25,
    bin: Column => Column = identity,
    epsilon: Double = 1e-6,
    partCol: String = Check.PartCol) extends Check {

  require(epsilon > 0.0, "epsilon must be positive (keeps PSI finite)")
  val name = s"drift_psi:$column"

  def run(df: DataFrame): CheckResult = {
    val keyed = df.select(col(partCol).as("part"), KeyCountDrift.binned(column, bin).as("key"))
    val refKeys = reference.select(KeyCountDrift.binned(column, bin).as("key"))
    val eps = epsilon
    val verdicts = KeyCountDrift.verdicts(name, threshold, keyed, refKeys, "psi_drift",
      KeyCountDrift.termSum { (o, n, p) =>
        val q = math.max(o / math.max(n, 1.0), eps)
        val r = math.max(p, eps)
        (q - r) * math.log(q / r)
      })
    CheckResult(Check.emptyViolations(df.sparkSession), verdicts)
  }
}

/** The plan shared by the three drift checks. Per part it scores the
  * part's `key_counts` buffer against the reference's:
  *
  *  - `keyed` (part, key) rows carry every input row's part, a NULL key
  *    where the row has no key. NULL parts are dropped, and one
  *    `groupBy(part)` aggregate of `key_counts(key)` and `count(key)` = n,
  *    both of which skip NULL keys, gives each part its buffer, empty for
  *    a part without keys. The input is shuffled once, on `part`;
  *  - the reference keys, cast to the observed key type, are one
  *    `key_counts` row crossed in as a broadcast;
  *  - a [[graft.sketch.KeyCountsScore]] expression computes the metric.
  *
  * Verdict parts are the observed parts (n > 0) plus, when the reference
  * is non-empty, every part of the input. */
private object KeyCountDrift {
  type Score = (SortedKeyCounts, SortedKeyCounts) => Double

  /** The binned column as a key, NULL where the column is NULL (a bin
    * such as `coalesce` must not turn a NULL value into a key). */
  def binned(column: String, bin: Column => Column): Column =
    when(col(column).isNotNull, bin(col(column)))

  /** Per part, Σ over the union of keys of `term(o, n, p)`: `o` the
    * part's count of the key, `n` the part's total, `p` the key's
    * reference fraction `r / max(R, 1)`. */
  def termSum(term: (Double, Double, Double) => Double): Score = (obs, ref) => {
    val n = obs.total.toDouble
    val refTotal = math.max(ref.total, 1L).toDouble
    var sum = 0.0
    obs.foreachUnion(ref)((o, r) => sum += term(o.toDouble, n, r / refTotal))
    sum
  }

  /** The largest gap between the two CDFs over the sorted union of keys,
    * each CDF `cum / max(total, 1)` on long counts. */
  val ks: Score = (obs, ref) => {
    val oTotal = math.max(obs.total, 1L).toDouble
    val rTotal = math.max(ref.total, 1L).toDouble
    var cumO = 0L
    var cumR = 0L
    var d = 0.0
    obs.foreachUnion(ref) { (o, r) =>
      cumO += o
      cumR += r
      d = math.max(d, math.abs(cumO.toDouble / oTotal - cumR.toDouble / rTotal))
    }
    d
  }

  def verdicts(name: String, threshold: Double, keyed: DataFrame, refKeys: DataFrame,
               scoreName: String, score: Score): DataFrame = {
    val keyType = keyed.schema("key").dataType
    val obs = keyed.where(col("part").isNotNull)
      .groupBy("part").agg(key_counts(col("key")).as("o"), count(col("key")).as("n"))
    val ref = refKeys.select(col("key").cast(keyType).as("key"))
      .agg(key_counts(col("key")).as("r"), count(col("key")).as("rn"))
    obs.crossJoin(broadcast(ref))
      .where(col("n") > 0 || col("rn") > 0)
      .select(col("part"), key_counts_score(scoreName, col("o"), col("r"))(score).as("metric_value"))
      .select(
        col("part"),
        lit(name).as("check"),
        (col("metric_value") <= lit(threshold)).as("passed"),
        lit(0L).as("violation_count"),
        col("metric_value"))
  }
}
