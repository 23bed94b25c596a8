package graft.pipeline

import graft.checks.{Check, CheckResult, PartAggregate, PerPartCheck}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end validation run: filter uncommitted partitions → evaluate all
  * checks → write violations + verdicts partitioned by `part` → commit each
  * partition to the checkpoint (SURVEY.md §7.1 steps 3-5).
  *
  * One scan for the per-part checks: the verdicts of every
  * [[graft.checks.PerPartCheck]] (row constraints, stats, drift) and the
  * `row_count` verdicts come from ONE `groupBy(part)` aggregate over the
  * pending rows ([[ValidationPipeline.partVerdicts]]), so the verdicts
  * write reads the input once for all of them, plus once per other check
  * (uniqueness, referential). The per-part checks must group by the
  * pipeline's `partCol`; `run` fails before the first job, naming the
  * check, when one does not.
  *
  * Resume contract: partitions present in the checkpoint are excluded from
  * the scan with a literal NOT-IN filter on the partition column, which the
  * datasource prunes at planning time (no data read for committed parts).
  * Output writes use dynamic partition overwrite so a crash between write
  * and commit re-runs idempotently: the re-run overwrites exactly the
  * partitions it recomputes, never duplicating rows.
  *
  * Output layout: each table is written through a `rebalance` hint on
  * `part` (Spark's `RebalancePartitions`), so every (table, part) below
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` lands in ONE parquet
  * file, while AQE splits a skewed part (an all-red partition's
  * violations) across several write tasks at that size. Without it each
  * write task opened one file per part it saw, and on a local filesystem
  * every file costs tens of milliseconds; one extra shuffle per table is
  * cheaper. `repartition(col("part"))` is not used because AQE drops it
  * from the verdicts plan, whose union children are already
  * hash-partitioned on `part`, and a fixed partition count
  * (`repartition(n, ...)`, `coalesce`) would put a poisoned part, or every
  * verdict branch's final aggregate, into one task.
  *
  * The `tokens` column is never projected through a transformation — checks
  * only read it — so the per-row byte-identity invariant of BASELINE.json
  * input_hint holds by construction (asserted in PipelineSpec).
  */
final case class PipelineConfig(
    checkpointDir: String,
    outputDir: String,
    partCol: String = Check.PartCol,
    lineage: String = "",
    /** Schema contract pre-flight: when set, [[ValidationPipeline.run]]
      * diffs the input's ACTUAL schema against this reference
      * ([[graft.checks.SchemaDrift]]) BEFORE planning any job and throws
      * on drift — zero scans, so a silently-retyped or dropped column
      * aborts the run before a 100-TB pass is paid for (the value-level
      * checks can stay green while every downstream consumer breaks). */
    referenceSchema: Option[org.apache.spark.sql.types.StructType] = None,
    /** Violation-output cap: when set, at most this many violation ROWS
      * are written per (part, check) — the deterministic first K by the
      * full violation row ordering (doc_id, path, keyword, message,
      * additional_properties). At 10^12 rows a poisoned source (a schema
      * break every value-check flags, an upstream rewrite that corrupts
      * every doc_id) makes the violations table INPUT-sized: the error
      * path of the run writes petabytes and dominates its cost exactly
      * when the run should be failing fast. Verdicts keep the EXACT
      * `violation_count` either way (they aggregate the check output,
      * not the written sample). The selection is the two-phase salted
      * top-K (see [[ValidationPipeline.capViolations]]) so an
      * all-rows-red partition never serializes into one task. */
    maxViolationsPerPart: Option[Int] = None)

/** `violations` and `verdicts` are the run's written rows (the tables
  * under `outputDir`, limited to `processedParts`), in the column order of
  * [[Check.violationsSchema]] and [[Check.verdictsSchema]]; using them
  * re-runs no check. */
final case class PipelineResult(
    violations: DataFrame,
    verdicts: DataFrame,
    processedParts: Seq[Int],
    skippedParts: Seq[Int],
    rowsValidated: Long)

final class ValidationPipeline(checks: Seq[Check], cfg: PipelineConfig) {
  import org.apache.spark.sql.types.StructType

  private val perPart = checks.collect { case c: PerPartCheck => c }
  private val others = checks.filterNot(_.isInstanceOf[PerPartCheck])

  def run(input0: DataFrame): PipelineResult = {
    // schema-contract pre-flight: driver-side metadata only, fail fast
    cfg.referenceSchema.foreach(ref =>
      graft.checks.SchemaDrift.check(input0, ref, failOnDrift = true))
    perPart.find(_.partCol != cfg.partCol).foreach { c =>
      throw new IllegalArgumentException(s"graft: check '${c.name}' groups by " +
        s"'${c.partCol}', but the pipeline's part column is '${cfg.partCol}'")
    }
    val spark = input0.sparkSession
    val checkpoint = new Checkpoint(cfg.checkpointDir)
    val committed = checkpoint.committedParts()

    // Fail fast on NULL / non-castable partition values: the guard rides
    // the scan of EVERY job over the input (checks, violation/verdict
    // writes, row counts), so the first job touching a poisoned row
    // aborts with a clear message before any output partition for it can
    // commit. Silently dropping such rows would skip validation for
    // them, and letting a null group through used to NPE during
    // commit-metadata collection AFTER the output writes. The dynamic
    // partition overwrite keeps an aborted run idempotent on re-run.
    val partInt = col(cfg.partCol).cast("int")
    val input = input0.where(
      when(col(cfg.partCol).isNull || partInt.isNull,
        raise_error(concat(
          lit(s"graft: NULL or non-castable '${cfg.partCol}' partition value: "),
          coalesce(col(cfg.partCol).cast("string"), lit("NULL")))).cast("boolean"))
        .otherwise(lit(true)))

    val pending =
      if (committed.isEmpty) input
      else input.where(!col(cfg.partCol).isin(committed.toSeq: _*))

    // Resume fast path: when everything is already committed, learn it
    // from a first-row probe (stops at the first pending row) instead of
    // scanning anything further. Fresh runs skip even the probe.
    if (committed.nonEmpty && pending.isEmpty) {
      return PipelineResult(
        Check.emptyViolations(spark),
        Check.emptyVerdicts(spark),
        Seq.empty, committed.toSeq.sorted, 0L)
    }

    // The per-part checks' verdicts and the row counts, LAZY and cached:
    // one aggregate over pending, computed inside the verdict write job
    // instead of a dedicated eager full-input pre-count job — at 10^12
    // rows that job was a whole extra pass made solely for commit
    // metadata. The frame is (a) verdict rows of the write and (b) the
    // commit metadata, its `row_count` rows collected from the cache after
    // the writes. The parts to commit come from this run's input, not
    // from the written verdicts, which can still hold parts that a
    // crashed run wrote before the input lost them.
    val partVerdicts = ValidationPipeline.partVerdicts(perPart, pending, cfg.partCol).persist()

    // unpersisted on every path: a failed write must not leave the cached
    // verdicts registered in the caller's session
    try {
      val t0 = System.nanoTime()
      // global checks see the full input (cross-partition semantics) but
      // report only for uncommitted partitions; local checks scan pending
      // only. Each check's verdict parts are the parts of what it reads.
      val results: Seq[CheckResult] = others.map { c =>
        if (c.isGlobal && committed.nonEmpty) {
          val r = c.run(input)
          CheckResult(
            r.violations.where(!col("part").isin(committed.toSeq: _*)),
            r.verdicts.where(!col("part").isin(committed.toSeq: _*)))
        } else c.run(pending)
      }
      val violationsAll = (perPart.map(_.violations(pending)) ++ results.map(_.violations))
        .reduceOption(_ unionAll _).getOrElse(Check.emptyViolations(spark))
      val violations = cfg.maxViolationsPerPart match {
        case Some(k) => ValidationPipeline.capViolations(violationsAll, k)
        case None    => violationsAll
      }
      val verdicts = (partVerdicts +: results.map(_.verdicts)).reduce(_ unionAll _)

      // Dynamic partition overwrite is a per-write option, so the caller's
      // session keeps its own `spark.sql.sources.partitionOverwriteMode`.
      // The rebalance on `part` gives one file per (table, part) and
      // splits a skewed part (see the class doc).
      def write(df: DataFrame, table: String): Unit =
        df.hint("rebalance", col("part"))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("part").parquet(s"${cfg.outputDir}/$table")
      // The two output tables are INDEPENDENT jobs writing disjoint paths —
      // submit them from two driver threads so one job's tasks run on the
      // cores the other leaves idle: its shuffle map stages wait for their
      // slowest task, and its rebalanced write stage has only a few tasks.
      // A failure in either write
      // fails the run before any partition commits. The other write may
      // still have finished, so after a failed run the two output
      // directories can hold results of different runs until the re-run
      // overwrites them. When both writes fail, the violations error rides
      // on the verdicts error as a suppressed exception.
      val vioErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val vioThread = new Thread(() =>
        try write(violations, "violations")
        catch { case t: Throwable => vioErr.set(t) })
      vioThread.start()
      try write(verdicts, "verdicts")
      catch { case t: Throwable =>
        vioThread.join()
        Option(vioErr.get()).foreach(t.addSuppressed)
        throw t
      }
      vioThread.join()
      Option(vioErr.get()).foreach(e => throw e)

      val elapsed = (System.nanoTime() - t0) / 1e9
      // commit metadata comes from the cache the verdict write populated —
      // a KB-sized read, not another input scan
      val partCounts = partVerdicts.where(col("check") === ValidationPipeline.RowCount)
        .select("part", "metric_value").collect()
        .map(r => r.getInt(0) -> r.getDouble(1).toLong).toMap
      val pendingParts = partCounts.keys.toSeq.sorted
      val totalRows = partCounts.values.sum
      val rate = if (elapsed > 0) totalRows / elapsed else 0.0

      pendingParts.foreach { p =>
        checkpoint.commit(PartCommit(p, partCounts(p), rate, cfg.lineage))
      }

      // read back what was written: the lazy plans above would re-run
      // every check
      def written(table: String, schema: StructType): DataFrame =
        spark.read.schema(schema).parquet(s"${cfg.outputDir}/$table")
          .where(col("part").isin(pendingParts: _*))
          .select(schema.fieldNames.toSeq.map(col): _*)
      PipelineResult(
        written("violations", Check.violationsSchema),
        written("verdicts", Check.verdictsSchema),
        pendingParts, committed.toSeq.sorted, totalRows)
    } finally partVerdicts.unpersist(false)
  }
}

object ValidationPipeline {
  private[pipeline] val RowCount = "row_count"

  /** The verdicts of `checks` over `df` plus one `row_count` verdict per
    * part (its row count as the metric), all from one aggregate
    * ([[PartAggregate.verdicts]]): one scan of `df` and one exchange, on
    * `part`. */
  def partVerdicts(checks: Seq[PerPartCheck], df: DataFrame, partCol: String): DataFrame = {
    val rowCount = (id: String) => PartAggregate(
      aggs = Seq(count(lit(1)).as(s"${id}rows")),
      verdicts = Seq(PartAggregate.verdict(RowCount, lit(true), lit(0L), col(s"${id}rows"))))
    PartAggregate.verdicts(df, partCol,
      checks.map(c => (id: String) => c.partAggregate(df, id)) :+ rowCount)
  }

  /** Deterministic first-K violation rows per (part, check), ordered by
    * the full violation row (doc_id, path, keyword, message,
    * additional_properties — NULLs first, a total order up to fully
    * identical rows, which are interchangeable).
    *
    * Two-phase because one window over (part, check) is a skew cliff:
    * the group cardinality is tiny and an all-rows-red partition would
    * funnel 10^9 rows into ONE reducer's sort — the same degenerate
    * input this cap exists for. Phase 1 ranks within (part, check,
    * salt-of-row) across `Salts` reducers and keeps ≤ K per salt; phase
    * 2 ranks the ≤ Salts·K survivors per (part, check). Every global
    * top-K row ranks ≤ K within its own salt bucket, so phase 1 never
    * drops a final selection. */
  private[pipeline] val Salts = 64

  def capViolations(v: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"maxViolationsPerPart ($k) must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val ord = Seq("doc_id", "path", "keyword", "message",
      "additional_properties").map(c => col(c).asc_nulls_first)
    val salt = pmod(xxhash64(col("doc_id"), col("path"), col("keyword"),
      col("message"), col("additional_properties")), lit(Salts))
    val phase1 = v
      .withColumn("_vr", org.apache.spark.sql.functions.row_number()
        .over(Window.partitionBy(col("part"), col("check"), salt)
          .orderBy(ord: _*)))
      .where(col("_vr") <= k).drop("_vr")
    phase1
      .withColumn("_vr", org.apache.spark.sql.functions.row_number()
        .over(Window.partitionBy(col("part"), col("check"))
          .orderBy(ord: _*)))
      .where(col("_vr") <= k).drop("_vr")
  }
}
