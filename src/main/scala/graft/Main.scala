package graft

import graft.checks._
import graft.compile.ValidatorOptions
import graft.data.TokenTable
import graft.pipeline.{PipelineConfig, ValidationPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entrypoint (SURVEY.md §7.1.6):
  *
  * {{{
  * spark-submit --class graft.Main jsenspark.jar \
  *   --input  /data/tokens            \  (parquet, Iceberg-layout, part col)
  *   --spec   /conf/constraints.json  \  (draft-4 constraint spec)
  *   --output /data/validation_out    \
  *   --checkpoint /data/validation_ckpt \
  *   [--vocab /data/vocab]            \  (source dimension for referential)
  *   [--reference /data/clean_sample] \  (drift reference sample)
  *   [--part-col part] [--id-col doc_id] [--greedy true] \
  *   [--max-violations-per-part 100000]  (cap written violation rows —
  *                                        see PipelineConfig; verdict
  *                                        counts stay exact)
  * }}}
  *
  * Interrupted runs resume by re-submitting with the same checkpoint dir:
  * committed partitions are pruned from the scan.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    def req(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))

    val spark = SparkSession.builder()
      .appName("graft-validate")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SQL surface for the custom expressions (also available cluster-wide
    // via --conf spark.sql.extensions=graft.ext.GraftExtensions)
    graft.ext.GraftFunctions.register(spark)

    val input = spark.read.parquet(req("input"))
    val specJson =
      opts.get("spec").map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
        .getOrElse(TokenTable.constraintSpec(49152))
    val partCol = opts.getOrElse("part-col", "part")
    val idCol = opts.getOrElse("id-col", "doc_id")
    val greedy = opts.get("greedy").forall(_.toBoolean)

    val validator = Validator(specJson, ValidatorOptions(greedy = greedy))
    val checkSet = checks(input, validator, partCol, idCol,
      opts.get("vocab").map(spark.read.parquet(_)),
      opts.get("reference").map(spark.read.parquet(_)))

    val cfg = PipelineConfig(
      checkpointDir = req("checkpoint"),
      outputDir = req("output"),
      partCol = partCol,
      lineage = s"input=${req("input")} specHash=${specJson.hashCode}",
      maxViolationsPerPart = opts.get("max-violations-per-part").map(_.toInt))
    val result = new ValidationPipeline(checkSet, cfg).run(input)

    println(s"processed parts: ${result.processedParts.mkString(",")}")
    println(s"skipped parts:   ${result.skippedParts.mkString(",")}")
    println(s"rows validated:  ${result.rowsValidated}")
    spark.stop()
  }

  /** The run's checks: row constraints, uniqueness and stats on every
    * input column, plus referential integrity of `source` against `vocab`
    * and KS (`n_tok`) and χ² (`tokens`) drift against `reference` when
    * those are given. */
  def checks(input: DataFrame, validator: Validator, partCol: String, idCol: String,
             vocab: Option[DataFrame], reference: Option[DataFrame]): Seq[Check] = {
    val checks = Seq.newBuilder[Check]
    checks += RowConstraintCheck(validator, partCol, idCol)
    checks += UniquenessCheck(idCol, partCol = partCol)
    checks += StatsCheck(
      input.schema.fields.toSeq.map(f => ColumnStatsSpec(f.name)), partCol)
    vocab.foreach { v =>
      checks += ReferentialCheck("source", v, "source", partCol = partCol, idCol = idCol)
    }
    reference.foreach { ref =>
      checks += KsDriftCheck("n_tok", ref, partCol = partCol)
      checks += Chi2DriftCheck("tokens", explode(col("tokens")), ref,
        explode(col("tokens")), threshold = 1e7, partCol = partCol)
    }
    checks.result()
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
}
