package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Distribution-drift checks against a reference sample (SURVEY.md §2.8):
  * two-sample Kolmogorov–Smirnov on a numeric column, chi-square on a
  * categorical/token histogram and PSI on binned proportions.
  *
  * Scale design: each reduces the 10^12-row input to a per-part histogram
  * FIRST (groupBy part and value/bin with partial aggregation — the
  * shuffle carries at most parts × keys rows per map task), and that
  * histogram is the only input-sized shuffle.
  *  - KS joins it with the per-part replicated reference histogram and
  *    runs its CDF windows on the joined frame, which holds parts × bins
  *    rows — meant for a bounded number of bins.
  *  - Chi-square and PSI never build a parts × reference frame for the
  *    histogram to meet: the reference fractions are broadcast and the
  *    statistic is a split sum ([[HistogramDrift]]), equal to the
  *    term-for-term sum over the union of keys up to float summation
  *    order. Token vocabularies of 10^4–10^5 keys stay one shuffle.
  */
final case class KsDriftCheck(
    column: String,
    reference: DataFrame,
    threshold: Double = 0.05,
    bin: Column => Column = identity,
    partCol: String = Check.PartCol,
    knownParts: Seq[Int] = Nil,
    partsUniverse: Option[DataFrame] = None) extends Check {

  val name = s"drift_ks:$column"
  override def withKnownParts(parts: Seq[Int]): Check = copy(knownParts = parts)
  override def withPartsUniverse(parts: DataFrame): Check =
    copy(partsUniverse = Some(parts))

  def run(df: DataFrame): CheckResult = {
    val spark = df.sparkSession
    val b = bin(col(column)).as("bin")

    val obs = df.where(col(column).isNotNull)
      .groupBy(col(partCol).as("part"), b).agg(count(lit(1)).as("o_cnt"))
    val ref = reference.where(col(column).isNotNull)
      .groupBy(b).agg(count(lit(1)).as("r_cnt"))

    // replicate the (small) reference histogram per observed partition so
    // the CDF union is computed per part
    val parts = Check.partsDf(df, knownParts, partCol, partsUniverse).toDF("part")
    val refPerPart = parts.crossJoin(broadcast(ref))

    val joined = obs.join(refPerPart, Seq("part", "bin"), "full_outer")
      .select(col("part"), col("bin"),
        coalesce(col("o_cnt"), lit(0L)).as("o_cnt"),
        coalesce(col("r_cnt"), lit(0L)).as("r_cnt"))

    val byPart = Window.partitionBy("part")
    val cumul = Window.partitionBy("part").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // greatest(total, 1): a part whose column is entirely NULL has zero
    // observed mass — its CDF flatlines at 0 and the check fails loudly
    // with D = 1 instead of ANSI-throwing on 0/0
    val withCdf = joined
      .withColumn("o_cdf", sum("o_cnt").over(cumul).cast(DoubleType) /
        greatest(sum("o_cnt").over(byPart), lit(1L)))
      .withColumn("r_cdf", sum("r_cnt").over(cumul).cast(DoubleType) /
        greatest(sum("r_cnt").over(byPart), lit(1L)))

    val verdicts = withCdf
      .groupBy("part")
      .agg(max(abs(col("o_cdf") - col("r_cdf"))).as("metric_value"))
      .select(
        col("part"),
        lit(name).as("check"),
        (col("metric_value") <= lit(threshold)).as("passed"),
        lit(0L).as("violation_count"),
        col("metric_value"))

    CheckResult(Check.emptyViolations(spark), verdicts)
  }
}

/** Chi-square drift over a histogram (e.g. token frequencies via
  * `explode(tokens)`). `keyExpr` maps a row to the histogram key column —
  * pass `explode(col("tokens"))` for token histograms or `col("source")`
  * for categorical columns. Expected counts come from the reference's
  * relative frequencies scaled to each partition's total, floored at 0.5
  * to keep the statistic finite for unseen categories: per part, the sum
  * over the union of observed and reference keys of
  * `(o − p·n)² / max(p·n, 0.5)`, computed as a split sum against the
  * broadcast reference (see [[HistogramDrift]]). */
final case class Chi2DriftCheck(
    keyName: String,
    keyExpr: Column,
    reference: DataFrame,
    refKeyExpr: Column,
    threshold: Double,
    keyTransform: Column => Column = identity,
    partCol: String = Check.PartCol,
    knownParts: Seq[Int] = Nil,
    partsUniverse: Option[DataFrame] = None) extends Check {

  val name = s"drift_chi2:$keyName"
  override def withKnownParts(parts: Seq[Int]): Check = copy(knownParts = parts)
  override def withPartsUniverse(parts: DataFrame): Check =
    copy(partsUniverse = Some(parts))

  def run(df: DataFrame): CheckResult = {
    // generators (explode) must be top-level in a select; the transform
    // (e.g. bucketing `% B`) is applied in a second projection
    val keyed = df.select(col(partCol).as("part"), keyExpr.as("key0"))
      .select(col("part"), keyTransform(col("key0")).as("key"))
      .where(col("key").isNotNull)
    val refKeys = reference.select(refKeyExpr.as("key0"))
      .select(keyTransform(col("key0")).as("key"))
      .where(col("key").isNotNull)
    val parts = Check.partsDf(df, knownParts, partCol, partsUniverse).toDF("part")
    val verdicts = HistogramDrift.verdicts(name, threshold, keyed, refKeys, parts,
      (o, n, p) => pow(o - p * n, 2) / greatest(p * n, lit(0.5)))
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
  * Same plan as [[Chi2DriftCheck]] (see [[HistogramDrift]]): the per-part
  * bin histogram is the only large shuffle, the reference is broadcast,
  * and the statistic is a split sum equal to the term-for-term sum over
  * the union of bins up to float summation order. */
final case class PsiDriftCheck(
    column: String,
    reference: DataFrame,
    threshold: Double = 0.25,
    bin: Column => Column = identity,
    epsilon: Double = 1e-6,
    partCol: String = Check.PartCol,
    knownParts: Seq[Int] = Nil,
    partsUniverse: Option[DataFrame] = None) extends Check {

  require(epsilon > 0.0, "epsilon must be positive (keeps PSI finite)")
  val name = s"drift_psi:$column"
  override def withKnownParts(parts: Seq[Int]): Check = copy(knownParts = parts)
  override def withPartsUniverse(parts: DataFrame): Check =
    copy(partsUniverse = Some(parts))

  def run(df: DataFrame): CheckResult = {
    val keyed = df.where(col(column).isNotNull)
      .select(col(partCol).as("part"), bin(col(column)).as("key"))
    val refKeys = reference.where(col(column).isNotNull)
      .select(bin(col(column)).as("key"))
    val parts = Check.partsDf(df, knownParts, partCol, partsUniverse).toDF("part")
    val eps = lit(epsilon)
    val verdicts = HistogramDrift.verdicts(name, threshold, keyed, refKeys, parts,
      (o, n, p) => {
        val q = greatest(o / greatest(n, lit(1.0)), eps)
        val r = greatest(p, eps)
        (q - r) * log(q / r)
      })
    CheckResult(Check.emptyViolations(df.sparkSession), verdicts)
  }
}

/** The plan shared by [[Chi2DriftCheck]] and [[PsiDriftCheck]]. Both sum,
  * per part, a term `t(o, n, p)` over the union of observed and reference
  * keys: `o` the part's count of the key, `n` the part's total, `p` the
  * key's reference fraction (0 for a key the reference lacks). The sum is
  * split as
  *
  *   Σ_{k∈ref} t(0, n, p_k) + Σ_{k∈obs} [t(o_k, n, p_k) − t(0, n, p_k)]
  *
  * so no frame of parts × reference keys is ever shuffled or joined
  * against the histogram:
  *  - the input's `(part, key)` histogram is the only large shuffle;
  *    `n` is read off it (a second aggregate over the same exchange);
  *  - the reference sum crosses the tiny `(part, n)` frame with the
  *    broadcast reference fractions and reduces by partial aggregation;
  *  - the observed sum is the histogram with broadcast lookups of `n` by
  *    part and of `p` by key.
  * The result equals the term-for-term sum up to float summation order.
  *
  * Verdict parts are the observed parts plus, when the reference is
  * non-empty, every part of the universe (an all-NULL part reads n = 0).
  * NULL parts get no verdict. */
private object HistogramDrift {
  def verdicts(name: String, threshold: Double,
               keyed: DataFrame, refKeys: DataFrame, parts: DataFrame,
               term: (Column, Column, Column) => Column): DataFrame = {
    val obs = keyed.where(col("part").isNotNull)
      .groupBy("part", "key").agg(count(lit(1)).as("o_cnt"))
    val refHist = refKeys.groupBy("key").agg(count(lit(1)).as("r_cnt"))
    // the reference total stays a lazy 1-row cross-join (a `.head()` here
    // would serialize an extra driver-side job per check mid-plan);
    // greatest(…, 1) keeps an empty reference from ANSI-throwing on /0
    val refTotal = refHist.agg(
      greatest(sum("r_cnt").cast(DoubleType), lit(1.0)).as("_rt"))
    val refFrac = broadcast(refHist.crossJoin(broadcast(refTotal))
      .select(col("key"), (col("r_cnt") / col("_rt")).as("p")))
    val totals = broadcast(
      obs.groupBy("part").agg(sum("o_cnt").cast(DoubleType).as("n")))
    val zero = lit(0.0)

    val refTerms = parts.where(col("part").isNotNull)
      .join(totals, Seq("part"), "left")
      .select(col("part"), coalesce(col("n"), zero).as("n"))
      .crossJoin(refFrac)
      .select(col("part"), term(zero, col("n"), col("p")).as("term"))
    // left joins, not inner: an inner join would infer a filter on the
    // histogram, and its two uses would no longer share one exchange
    val obsTerms = obs.join(totals, Seq("part"), "left")
      .join(refFrac, Seq("key"), "left")
      .select(col("part"), col("o_cnt").cast(DoubleType).as("o"), col("n"),
        coalesce(col("p"), zero).as("p"))
      .select(col("part"),
        (term(col("o"), col("n"), col("p")) - term(zero, col("n"), col("p"))).as("term"))

    refTerms.unionByName(obsTerms)
      .groupBy("part").agg(sum("term").as("metric_value"))
      .select(
        col("part"),
        lit(name).as("check"),
        (col("metric_value") <= lit(threshold)).as("passed"),
        lit(0L).as("violation_count"),
        col("metric_value"))
  }
}
