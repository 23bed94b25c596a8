package graft.checks

import graft.sketch.KeyCountsFunctions.{key_counts, key_counts_score}
import graft.sketch.SortedKeyCounts
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Explode
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType}

/* Distribution-drift checks against a reference sample (SURVEY.md §2.8):
  * two-sample Kolmogorov–Smirnov on a numeric column, chi-square on a
  * categorical/token histogram and PSI on binned proportions.
  *
  * Scale design ([[KeyCountDrift]]): each check is one exact aggregate,
  * `key_counts(key)` ([[graft.sketch.KeyCounts]]), in the per-part
  * aggregate ([[PartAggregate]]). Map tasks keep one count buffer per
  * part, so the input's only shuffle carries one blob per part per task,
  * hash-partitioned on `part`; no `(part, key)` rows are exchanged and
  * nothing is joined against the input. The reference is one
  * `key_counts` row, broadcast, and a per-part Catalyst expression scores
  * the two buffers by walking the sorted union of their keys.
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
    partCol: String = Check.PartCol) extends PerPartCheck {

  val name = s"drift_ks:$column"

  def partAggregate(df: DataFrame, id: String): PartAggregate =
    KeyCountDrift.form(id, name, threshold, df, KeyCountDrift.binned(column, bin),
      reference, KeyCountDrift.binned(column, bin), "ks_drift", KeyCountDrift.ks)
}

/** Chi-square drift over a histogram (e.g. token frequencies via
  * `explode(tokens)`). `keyExpr` maps a row to the histogram key column —
  * pass `explode(col("tokens"))` for token histograms or `col("source")`
  * for categorical columns. An `explode` or `explode_outer` key is not
  * exploded: `key_counts` counts the elements of its array child, with
  * `keyTransform` applied per element, on the observed and the reference
  * side alike; any other generator is rejected. Expected counts come
  * from the reference's relative frequencies scaled to each partition's
  * total, floored at 0.5 to keep the statistic finite for unseen
  * categories: per part, the sum over the union of observed and
  * reference keys of
  * `(o − p·n)² / max(p·n, 0.5)`, within float summation order of the
  * term-for-term sum (see [[KeyCountDrift]]). */
final case class Chi2DriftCheck(
    keyName: String,
    keyExpr: Column,
    reference: DataFrame,
    refKeyExpr: Column,
    threshold: Double,
    keyTransform: Column => Column = identity,
    partCol: String = Check.PartCol) extends PerPartCheck {

  val name = s"drift_chi2:$keyName"

  def partAggregate(df: DataFrame, id: String): PartAggregate =
    KeyCountDrift.form(id, name, threshold, df, key(df, keyExpr), reference,
      key(reference, refKeyExpr), "chi2_drift",
      KeyCountDrift.termSum((o, n, p) => math.pow(o - p * n, 2) / math.max(p * n, 0.5)))

  /** The key column of `expr` over `df`: the transformed key, or for an
    * `explode`/`explode_outer` key its array child with each element
    * transformed. The generator is read from the analyzed plan, since the
    * Column of `explode(c)` is not an `Explode` expression until analysis. */
  private def key(df: DataFrame, expr: Column): Column =
    df.select(expr).queryExecution.analyzed match {
      case Project(_, g: Generate) => g.generator match {
        case e: Explode =>
          val elements = ColumnBridge.column(e.child)
          if (keyTransform(elements) eq elements) elements
          else transform(elements, keyTransform)
        case other => throw new IllegalArgumentException(
          s"$name: the key generator ${other.prettyName} is not explode or explode_outer")
      }
      case _ => keyTransform(expr)
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
    partCol: String = Check.PartCol) extends PerPartCheck {

  require(epsilon > 0.0, "epsilon must be positive (keeps PSI finite)")
  val name = s"drift_psi:$column"

  def partAggregate(df: DataFrame, id: String): PartAggregate = {
    val eps = epsilon
    KeyCountDrift.form(id, name, threshold, df, KeyCountDrift.binned(column, bin),
      reference, KeyCountDrift.binned(column, bin), "psi_drift",
      KeyCountDrift.termSum { (o, n, p) =>
        val q = math.max(o / math.max(n, 1.0), eps)
        val r = math.max(p, eps)
        (q - r) * math.log(q / r)
      })
  }
}

/** The form shared by the three drift checks. Per part it scores the
  * part's `key_counts` buffer against the reference's:
  *
  *  - the key is one per-row column, NULL where the row has no key, or an
  *    array whose non-NULL elements are the row's keys. The aggregate
  *    holds `key_counts(key)` and n, the number of rows with a key, both
  *    of which skip NULL keys, so a part without keys has an empty buffer;
  *  - the reference keys, cast to the observed key type, are one
  *    `key_counts` row crossed in as a broadcast;
  *  - a [[graft.sketch.KeyCountsScore]] expression computes the metric,
  *    once per part.
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

  /** The key type, for an array key its element type. */
  private def elementType(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => et
    case t => t
  }

  /** Whether a row has a key: an array key has one when some element
    * is not NULL. */
  private def hasKey(key: Column, dt: DataType): Column = dt match {
    case _: ArrayType => exists(key, _.isNotNull)
    case _ => key.isNotNull
  }

  /** `key` over `df` scored against `refKey` over `reference`. */
  def form(id: String, name: String, threshold: Double, df: DataFrame, key: Column,
           reference: DataFrame, refKey: Column, scoreName: String, score: Score): PartAggregate = {
    val keyType = df.select(key).schema.head.dataType
    val refType = reference.select(refKey).schema.head.dataType
    val refKeyCast = refKey.cast(refType match {
      case _: ArrayType => ArrayType(elementType(keyType))
      case _ => elementType(keyType)
    })
    val k = col(s"${id}key")
    val ref = reference.select(refKeyCast.as("key"))
      .agg(key_counts(col("key")).as(s"${id}r"), count_if(hasKey(col("key"), refType)).as(s"${id}rn"))
    val metric = col(s"${id}score")
    PartAggregate(
      rows = Seq(key.as(s"${id}key")),
      aggs = Seq(key_counts(k).as(s"${id}o"), count_if(hasKey(k, keyType)).as(s"${id}n")),
      refs = Seq(ref),
      scores = Seq(key_counts_score(scoreName, col(s"${id}o"), col(s"${id}r"))(score)
        .as(s"${id}score")),
      verdicts = Seq(when(col(s"${id}n") > 0 || col(s"${id}rn") > 0,
        PartAggregate.verdict(name, metric <= lit(threshold), lit(0L), metric))))
  }
}
