package perfbench

import java.nio.file.{Files, Path}

import graft.Validator
import graft.checks._
import graft.compile.{ConstraintCompiler, FusedErrors, ValidatorOptions}
import graft.data.TokenTable
import graft.pipeline.{PipelineConfig, PipelineResult, ValidationPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The production path over a generated token table: the `Validator` fast
  * path, the greedy error path, one `ValidationPipeline.run` with
  * `graft.Main`'s full check set on a fresh checkpoint, and a resume after
  * half the commit manifests are removed.
  *
  * `dirty` raises the generator's per-mille rates so about a fifth of rows
  * violate the spec and about 5% of doc_ids repeat, and drops the drift
  * reference (a first pass over a new shard); clean data keeps the default
  * rates and checks KS and chi-square drift against a clean sample. */
final class TokensWorkload(dirty: Boolean, seed: Long, dataRoot: Path, runDir: Path)
    extends Workload {

  val rows: Long = 50000L
  private val files = 8
  private val cfg = {
    val base = TokenTable.Config(rows = rows, parts = 32, maxLen = 128, seed = seed)
    if (dirty) base.copy(oobPerMille = 150, nullDocPerMille = 50, dupPerMille = 50) else base
  }
  private val dir = dataRoot.resolve(s"tokens-${if (dirty) "dirty" else "clean"}")
  private val tableDir = dir.resolve("table").toString
  private val vocabDir = dir.resolve("vocab").toString
  private val refDir = dir.resolve("reference").toString
  private val outDir = runDir.resolve("out")
  private val ckptDir = runDir.resolve("ckpt")
  private val snapDir = runDir.resolve("snap")

  private var spark: SparkSession = _
  private var input: DataFrame = _
  private var validator: Validator = _

  def generateInputs(s: SparkSession): Unit = {
    Fs.deleteRecursively(dir)
    TokenTable.generate(s, cfg).repartition(files).write.parquet(tableDir)
    TokenTable.vocabDim(s, cfg).coalesce(1).write.parquet(vocabDir)
    if (!dirty) {
      // a clean sample of the same shape, drawn with another seed
      val ref = TokenTable.Config(rows = rows / 4, parts = 32, maxLen = 128,
        oobPerMille = 0, mismatchPerMille = 0, dupPerMille = 0,
        unknownSourcePerMille = 0, nullDocPerMille = 0, seed = seed + 1000003L)
      TokenTable.generate(s, ref).repartition(2).write.parquet(refDir)
    }
  }

  def inputBytes: Long = Fs.dataBytes(dir.resolve("table"))

  /** what run.py's oracle needs: the table, the spec's parameters, the
    * parts the resume re-runs and the output snapshots of iteration 0 */
  def info: Map[String, Any] = Map(
    "inputs_id" -> s"tokens-${if (dirty) "dirty" else "clean"}-s$seed-r$rows",
    "table" -> tableDir, "vocab_size" -> cfg.vocabSize, "num_sources" -> cfg.numSources,
    "parts" -> cfg.parts, "removed_parts" -> removedParts,
    "snap_fresh" -> snapDir.resolve("fresh").toString,
    "snap_resumed" -> snapDir.resolve("resumed").toString)

  def open(s: SparkSession): Double = {
    spark = s
    input = s.read.parquet(tableDir)
    validator = Validator(TokenTable.constraintSpec(cfg.vocabSize), ValidatorOptions(greedy = true))
    val t0 = System.nanoTime()
    ConstraintCompiler.compile(validator.spec, input.schema, validator.options)
    (System.nanoTime() - t0) / 1e6
  }

  def warmUp(): Unit = invalidRows()

  private def invalidRows(): Long =
    input.select(validator.valid(input.schema).as("v")).where(!col("v")).count()

  private def errorRecords(): Long =
    input.select(size(validator.errors(input.schema)).cast("long").as("n"))
      .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)

  private def checks(): Seq[Check] = {
    val b = Seq.newBuilder[Check]
    b += RowConstraintCheck(validator, "part", "doc_id")
    b += UniquenessCheck("doc_id", partCol = "part")
    b += StatsCheck(input.schema.fields.toSeq.map(f => ColumnStatsSpec(f.name)), "part")
    b += ReferentialCheck("source", spark.read.parquet(vocabDir), "source",
      partCol = "part", idCol = "doc_id")
    if (!dirty) {
      val ref = spark.read.parquet(refDir)
      b += KsDriftCheck("n_tok", ref, partCol = "part")
      b += Chi2DriftCheck("tokens", explode(col("tokens")), ref,
        explode(col("tokens")), threshold = 1e7, partCol = "part")
    }
    b.result()
  }

  private def pipeline(): ValidationPipeline =
    new ValidationPipeline(checks(), PipelineConfig(
      checkpointDir = ckptDir.toString, outputDir = outDir.toString, partCol = "part",
      lineage = s"input=$tableDir"))

  private def verdicts(): Seq[Seq[Any]] =
    spark.read.parquet(outDir.resolve("verdicts").toString)
      .select("part", "check", "passed", "violation_count", "metric_value")
      .collect().toSeq.map(r => Seq(r.getInt(0), r.getString(1), r.getBoolean(2),
        r.getLong(3), if (r.isNullAt(4)) null else r.getDouble(4)))

  private def resultObs(r: PipelineResult): Map[String, Any] = Map(
    "processed_parts" -> r.processedParts, "skipped_parts" -> r.skippedParts,
    "rows_validated" -> r.rowsValidated, "verdicts" -> verdicts())

  /** parts whose manifests the resume removes: half of them, by seed */
  private def removedParts: Seq[Int] = (0 until cfg.parts).filter(p => (p + seed) % 2 == 0)

  /** Fresh pipeline runs before the loop: the first in a JVM costs about
    * twice a warm one (code generation, JIT) and the next few still get
    * faster, by amounts that vary too much between runs to time. The
    * resume runs the same checks, so it is warm too. */
  override def prime(run: Run): Unit =
    for (_ <- 1 to 2) {
      Fs.deleteRecursively(outDir)
      Fs.deleteRecursively(ckptDir)
      run.op(-2, "prime.pipeline")(pipeline().run(input))(resultObs)
    }

  def iteration(it: Int, run: Run): Unit = {
    // the two single-pass calls are short: three samples each per pass
    for (_ <- 1 to 3) run.op(it, "validate.valid")(invalidRows())(n => Map("invalid_rows" -> n))
    for (_ <- 1 to 3) run.op(it, "validate.errors")(errorRecords())(n => Map("error_records" -> n))

    Fs.deleteRecursively(outDir)
    Fs.deleteRecursively(ckptDir)
    val fresh = run.op(it, "pipeline")(pipeline().run(input)) { r =>
      resultObs(r) ++ Map(
        "violations_bytes" -> Fs.dataBytes(outDir.resolve("violations")),
        "verdicts_bytes" -> Fs.dataBytes(outDir.resolve("verdicts")),
        "checkpoint_bytes" -> Fs.dataBytes(ckptDir))
    }
    if (fresh.isEmpty) return
    if (it == 0) Fs.copyRecursively(outDir, snapDir.resolve("fresh"))

    removedParts.foreach(p => Files.deleteIfExists(ckptDir.resolve("commits").resolve(s"part=$p.json")))
    run.op(it, "resume")(pipeline().run(input))(resultObs)
    if (it == 0) Fs.copyRecursively(outDir, snapDir.resolve("resumed"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def traceOnly(run: Run): Unit = {
    for (_ <- 1 to 3) {
      run.op(-1, "scan.count")(spark.read.parquet(tableDir).count())(n => Map("rows" -> n))
      run.op(-1, "scan.decode_tokens")(
        noop(spark.read.parquet(tableDir).select("tokens")))(_ => Map.empty)
    }

    val warm = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      ConstraintCompiler.compile(validator.spec, input.schema, validator.options)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    run.layer("compile.warm_ms") = warm(warm.length / 2)
    val plan = input.select(validator.errors(input.schema)).queryExecution.analyzed
    run.layer("compile.fused") =
      if (plan.expressions.exists(_.find(_.isInstanceOf[FusedErrors]).isDefined)) 1 else 0

    // each check alone, both outputs to a noop sink
    checks().foreach { c =>
      run.op(-1, s"checks.${c.name.takeWhile(_ != ':')}") {
        val r = c.run(input)
        noop(r.violations)
        noop(r.verdicts)
      }(_ => Map.empty)
    }
  }
}
