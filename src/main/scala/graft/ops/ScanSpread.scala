package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Scan spread: repartition an under-split input up to the default
  * parallelism before per-row work that dwarfs one exchange of the rows.
  * An input that reads as one task (a single unsplittable parquet row
  * group, or a small-in-bytes table with expensive rows) otherwise runs
  * the whole kernel chain on one core — the guide-§2.5 "huge
  * unsplittable file" input-skew case, whose remedy is repartitioning
  * right after the read. Column pruning and filter pushdown pass through
  * the Repartition node, so the shuffle carries only the columns the
  * consumer reads, and row-set results are partitioning-independent, so
  * the spread never changes what is computed. */
object ScanSpread {

  /** `df` repartitioned to `defaultParallelism` when it has fewer
    * partitions and its estimated size reaches `minBytes`; otherwise `df`
    * itself. Non-empty `keys` hash-partition (deterministic under task
    * retries, no round-robin pre-sort — SPARK-23207); empty `keys`
    * round-robin. */
  def apply(df: DataFrame, keys: Seq[Column] = Nil, minBytes: Long = 0L): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val bigEnough = minBytes <= 0L ||
      df.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes
    if (bigEnough && df.rdd.getNumPartitions < want)
      if (keys.isEmpty) df.repartition(want) else df.repartition(want, keys: _*)
    else df
  }
}
