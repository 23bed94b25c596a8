package graft

import graft.checks._
import graft.data.TokenTable
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** The plan harness (PLANS.md). Each entry prints one count line —
  * exchanges / broadcasts / nested-loop joins in the pre-execution plan —
  * so a regression in join strategy or an accidental shuffle shows up as
  * a number diff.
  *
  *  - With no query names: the operator family (PLANS.md §8e–§8g, count
  *    lines only), then the flagship token-table paths (PLANS.md §1–§5,
  *    §8, §8b, §9), which also print their `explain("formatted")` plan.
  *  - With query names: each named [[SparkEntry.queries]] entry on
  *    `sfDir`, count line and formatted plan.
  *
  * `-v` prints the formatted plan of every entry. Every entry is built by
  * calling the library, so the plan shown is the plan that runs.
  * Usage: runMain graft.PlanAudit [-v] [sfDir] [q_name ...] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    val positional = args.filterNot(_.startsWith("-"))
    val (d, names) = positional.headOption.filterNot(SparkEntry.queries.contains) match {
      case Some(dir) => (dir, positional.tail.toSeq)
      case None => ("/root/testdata/sf0.01", positional.toSeq)
    }
    val spark = BenchCore.session(8)

    def audit(name: String, df: DataFrame, formatted: Boolean = false): Unit = {
      val lines = df.queryExecution.executedPlan.toString.split("\n")
      val ex = lines.count(_.contains("Exchange"))
      val bc = lines.count(_.contains("BroadcastExchange"))
      val nlj = lines.count(_.contains("NestedLoop"))
      println(s"== $name: exchanges=$ex (broadcast=$bc) nestedLoop=$nlj")
      if (formatted || verbose) println(df.queryExecution.explainString(FormattedMode))
    }

    if (names.nonEmpty) {
      names.foreach { name =>
        val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
        audit(name, fn(spark, d), formatted = true)
      }
    } else {
      operators(spark, d, audit(_, _))
      tokenTable(spark, d, audit(_, _, formatted = true))
    }
    spark.stop()
  }

  /** The operator family on the sf tables: count lines only. */
  private def operators(spark: SparkSession, d: String,
                        audit: (String, DataFrame) => Unit): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    audit("quantizedTopK", Similarity.quantizedTopK(emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 8), "vec_id", "embedding", k = 5, rerank = 20))
    audit("duplicateSpans", Dedup.duplicateSpans(docs, "doc_id", "text"))
    audit("removeSharedSpans", Dedup.removeSharedSpans(docs, "doc_id", "text"))
    audit("domainFilter", WebText.filterByDomainBlocklist(docs, "doc_id", "text",
      Seq("bad.test").toDF("domain"), "domain"))
    audit("urlSignals", WebText.urlSignals(docs, "doc_id", "text"))
    audit("stripMarkup", docs.select(WebText.stripMarkup(col("text"))))
    audit("topKPerGroup", Sampling.topKPerGroup(docs, Seq("source"),
      col("n_chars"), col("doc_id"), 3))
    audit("psiDrift", PsiDriftCheck("n_chars",
      docs.where(col("doc_id") % 2 === 0),
      bin = c => floor(c / lit(50)).cast("long"))
      .run(docs.withColumn("part", lit(0))).verdicts)
    audit("chi2Drift", Chi2DriftCheck("n_chars", col("n_chars"),
      docs.where(col("doc_id") % 2 === 0), col("n_chars"), threshold = 100.0)
      .run(docs.withColumn("part", lit(0))).verdicts)
    audit("ksDrift", KsDriftCheck("n_chars",
      docs.where(col("doc_id") % 2 === 0))
      .run(docs.withColumn("part", lit(0))).verdicts)
    audit("suggestProfile", SuggestConstraints.profile(docs,
      Seq("doc_id", "lang", "n_chars")))
    val pivots = emb.where(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    audit("semanticPairs", Similarity.semanticDuplicatePairs(emb, "vec_id",
      "embedding", 64, pivots, 0.35))
    audit("crossSemantic", Similarity.crossSemanticDuplicates(
      emb.where(col("vec_id") >= 100), emb.where(col("vec_id") < 100),
      "vec_id", "embedding", 64, pivots, 0.35))
    audit("shingleOverlap", Overlap.shingleOverlap(
      docs.where(col("lang") === "en"), docs.where(col("lang") =!= "en"), "text", 2))
    audit("corpusSignature", Overlap.corpusSignature(docs, "text", 2))
    audit("gopherFilter", TextAnalysis.gopherFilter(docs, "text"))
    audit("lexicalSignals", TextAnalysis.lexicalSignals(docs, "text"))
    audit("compressionRatio", docs.select(
      TextAnalysis.compressionRatio(col("text"))))
    val lm = CharLm.train(docs, "text", maxAlphabet = 64)
    audit("charLmScore", CharLm.score(docs, "text", lm))
    audit("sampleToBudget", Sampling.sampleToBudget(docs,
      col("doc_id").cast("string"), length(col("text")), 30000L))
    audit("sourceReport", Report.sourceReport(docs, "source", "text", "lang"))
    audit("dedupLinesWithinDoc", docs.select(
      Dedup.dedupLinesWithinDoc(col("text"))))
    // r6 ops
    val pqCb = (0 until 4).map(s => pivots.map(_.slice(s * 16, s * 16 + 16)))
    audit("pqEncode", Similarity.pqEncode(emb, "vec_id", "embedding", 64, pqCb))
    audit("pqTopK", Similarity.pqTopK(emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 8), "vec_id", "embedding",
      k = 5, dim = 64, codebooks = pqCb, rerank = 20))
    val lrm = LrClassifier.train(docs, "text", col("lang") === "en",
      buckets = 512, iters = 1)
    audit("lrScore", LrClassifier.score(docs, "text", lrm))
    audit("stripMarkupKernel", docs.select(WebText.stripMarkup(
      concat(lit("<div>"), col("text"), lit("</div><script>x</script>")))))
    audit("rankBuckets", Sampling.rankBuckets(
      docs.select(col("doc_id"), col("n_chars").cast("double").as("sc")),
      col("sc"), Seq("head" -> 3.0, "middle" -> 3.0, "tail" -> 4.0),
      col("doc_id"), cellsPerUnit = 1L))
  }

  /** The flagship token-table paths on a parquet token table in the bench
    * layout (32 parts, `maxLen` 128); plan shapes do not depend on the row
    * count, so a small table is materialized once next to the bench data.
    * The MinHash and ANN entries read the sf tables. */
  private def tokenTable(spark: SparkSession, d: String,
                         audit: (String, DataFrame) => Unit): Unit = {
    val cfg = BenchCore.benchCfg.copy(rows = 20000L)
    val dir = s"/tmp/graft_bench/rows_${cfg.rows}"
    BenchCore.ensureData(spark, cfg, dir)
    val df = spark.read.parquet(dir)
    val validator = BenchCore.validator
    audit("row_validation_fastpath (valid only)",
      df.where(!validator.valid(df.schema)))
    audit("verdicts_groupby (per-partition)",
      RowConstraintCheck(validator).run(df).verdicts)
    audit("referential_broadcast_anti",
      ReferentialCheck("source", TokenTable.vocabDim(spark, TokenTable.Config(rows = 100)),
        "source").run(df).violations)
    audit("uniqueness_salted_two_phase", UniquenessCheck("doc_id").run(df).violations)
    audit("kll_sketch_objhashagg",
      StatsCheck(Seq(ColumnStatsSpec("n_tok", quantiles = Seq(0.5)))).profile(df))
    audit("fused_greedy_errors (kernel gated behind valid)",
      df.select(size(validator.errors(df.schema)).as("n")).agg(sum("n")))
    val docs = spark.read.parquet(s"$d/documents.parquet")
    audit("minhash_lsh_band_join (id+band+bucket only, hot-bucket cap)",
      Dedup.minhashDuplicates(docs, "doc_id", "text", 0.8, shingleN = 2,
        rowsPerBand = 2, materializePairs = false))
    val e = spark.read.parquet(s"$d/embeddings.parquet")
    audit("lsh_ann_topk (no vectors in the bucket join)",
      Similarity.lshTopK(e, "vec_id", "embedding",
        e.where(col("vec_id") < 8), "vec_id", "embedding", k = 5, dim = 64, planes = 8))
  }
}
