package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column statistics with optional assertions: min / max / null-rate /
  * approx quantiles (KLL), plus approx-distinct (HLL++) in [[StatsCheck.profile]]
  * — the table-level layer the reference has no analog for (SURVEY.md §2.8).
  *
  * One hash-aggregate pass per partition computes every column's stats
  * (partial + final agg, shuffle carries one row per partition). HLL++ via
  * `approx_count_distinct` keeps distinct-counting mergeable and
  * constant-memory — exact distinct at 10^12 rows would shuffle the world.
  */
final case class ColumnStatsSpec(
    column: String,
    maxNullRate: Option[Double] = None,
    min: Option[Double] = None,
    max: Option[Double] = None,
    quantiles: Seq[Double] = Nil)

final case class StatsCheck(
    columns: Seq[ColumnStatsSpec],
    partCol: String = Check.PartCol) extends PerPartCheck {

  val name = "stats"

  /** One verdict row per (part, column): passed = every assertion holds,
    * the null rate as the metric. Columns with quantiles configured emit
    * one extra informational row per quantile (KLL estimate as
    * metric_value, sanity-passed when it sits inside [min, max]). */
  def partAggregate(df: DataFrame, id: String): PartAggregate = {
    val rows = col(s"${id}rows")
    val perColumn = columns.zipWithIndex.map { case (s, i) =>
      val c = col(s.column)
      val p = s"$id$i"
      val isNum = df.schema(s.column).dataType.isInstanceOf[NumericType]
      val nulls = col(s"${p}_nulls")
      val (mn, mx) =
        if (isNum) (col(s"${p}_min"), col(s"${p}_max"))
        else (lit(null).cast(DoubleType), lit(null).cast(DoubleType))
      val aggs = Seq(sum(c.isNull.cast(LongType)).as(s"${p}_nulls")) ++
        (if (isNum) Seq(min(c).cast(DoubleType).as(s"${p}_min"),
                        max(c).cast(DoubleType).as(s"${p}_max"))
         else Nil) ++
        (if (isNum && s.quantiles.nonEmpty)
          Seq(graft.sketch.functions.kll_quantiles(
            graft.sketch.functions.kll_sketch(c), s.quantiles).as(s"${p}_quantiles"))
         else Nil)

      val nullRate = nulls.cast(DoubleType) / rows
      val passed = Seq(
        s.maxNullRate.map(r => nullRate <= lit(r)),
        s.min.map(m => mn.isNull || mn >= lit(m)),
        s.max.map(m => mx.isNull || mx <= lit(m)))
        .flatten.foldLeft(lit(true))(_ && _)
      val quantileVerdicts =
        if (!isNum) Nil
        else s.quantiles.zipWithIndex.map { case (q, j) =>
          val est = element_at(col(s"${p}_quantiles"), j + 1)
          PartAggregate.verdict(s"$name:${s.column}:q$q",
            est.isNull || (est >= mn && est <= mx), lit(0L), est)
        }
      (aggs, PartAggregate.verdict(s"$name:${s.column}", passed,
        when(passed, lit(0L)).otherwise(nulls), nullRate) +: quantileVerdicts)
    }
    PartAggregate(
      aggs = count(lit(1)).as(s"${id}rows") +: perColumn.flatMap(_._1),
      verdicts = perColumn.flatMap(_._2))
  }

  /** Wide per-partition profile (all stats as columns) — reusable as a
    * drift reference or for reporting. */
  def profile(df: DataFrame): DataFrame = {
    val aggs: Seq[Column] = columns.flatMap { s =>
      val c = col(s.column)
      val isNum = df.schema(s.column).dataType.isInstanceOf[NumericType]
      Seq(
        sum(c.isNull.cast(LongType)).as(s"${s.column}_nulls"),
        (if (isNum) min(c).cast(DoubleType) else lit(null).cast(DoubleType)).as(s"${s.column}_min"),
        (if (isNum) max(c).cast(DoubleType) else lit(null).cast(DoubleType)).as(s"${s.column}_max"),
        approx_count_distinct(c).as(s"${s.column}_distinct")) ++
        // KLL-sketch quantiles (mergeable/persistable, north-star §2.8);
        // the raw sketch blob rides along so later runs can merge profiles
        // without rescanning this one's input
        (if (s.quantiles.nonEmpty && isNum)
          Seq(
            graft.sketch.functions.kll_quantiles(
              graft.sketch.functions.kll_sketch(c), s.quantiles)
              .as(s"${s.column}_quantiles"),
            graft.sketch.functions.kll_sketch(c).as(s"${s.column}_kll"))
         else Seq.empty)
    }
    df.groupBy(col(partCol).as("part"))
      .agg(count(lit(1)).as("rows"), aggs: _*)
  }
}
