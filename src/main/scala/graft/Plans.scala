package graft

import graft.checks._
import graft.compile.ValidatorOptions
import graft.data.TokenTable
import org.apache.spark.sql.functions._

/** Dump `explain("formatted")` for the flagship physical plans — the
  * evidence that each path has the shape it claims (shuffle-free
  * validation, broadcast referential, partial-agg verdicts). Output is
  * curated into PLANS.md. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = BenchCore.session(4)
    BenchCore.ensureData(spark)
    val df = spark.read.parquet(BenchCore.benchDataDir)
    val validator = Validator(
      TokenTable.constraintSpec(49152), ValidatorOptions(greedy = true))
    val compiled = graft.compile.ConstraintCompiler
      .compile(validator.spec, df.schema, validator.options)

    def section(name: String)(plan: => Unit): Unit = {
      println(s"\n######## $name ########")
      plan
    }

    section("row_validation_fastpath (valid only)") {
      df.select(compiled.valid.as("v")).where(!col("v"))
        .explain("formatted")
    }
    section("verdicts_groupby (per-partition)") {
      df.groupBy("part")
        .agg(sum(compiled.valid.cast("long")).as("valid_rows"),
          count(lit(1)).as("rows"))
        .explain("formatted")
    }
    section("referential_broadcast_anti") {
      val dim = TokenTable.vocabDim(spark, TokenTable.Config(rows = 100))
      df.join(broadcast(dim.where(col("active")).select(col("source"))),
        Seq("source"), "left_anti")
        .explain("formatted")
    }
    section("uniqueness_salted_two_phase") {
      val keyed = df.where(col("doc_id").isNotNull)
      keyed.groupBy(col("doc_id"), pmod(spark_partition_id(), lit(64)).as("_salt"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id")).agg(sum("cnt").as("total"))
        .where(col("total") > 1)
        .explain("formatted")
    }
    section("kll_sketch_objhashagg") {
      df.groupBy("part")
        .agg(graft.sketch.functions.kll_sketch(col("n_tok")).as("sk"))
        .explain("formatted")
    }
    section("minhash_lsh_band_join (id+band+bucket only, hot-bucket cap)") {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      graft.ops.Dedup.bandPairs(graft.ops.Dedup.bandedBuckets(
        docs, "doc_id", "text", 2, 16, 2, 42L, graft.ops.Dedup.xxhashShingleId),
        maxBucket = graft.ops.Dedup.DefaultMaxBucket)
        .explain("formatted")
    }
    section("lsh_ann_topk (no vectors in the bucket join)") {
      val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      graft.ops.Similarity.lshTopK(e, "vec_id", "embedding",
        e.where(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, dim = 64, planes = 8)
        .explain("formatted")
    }
    section("fused_greedy_errors (kernel gated behind valid)") {
      df.select(size(compiled.errors).as("n")).agg(sum("n"))
        .explain("formatted")
    }
    spark.stop()
  }
}
