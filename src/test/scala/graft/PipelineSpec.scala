package graft

import graft.checks._
import graft.data.TokenTable
import graft.pipeline._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end slice (SURVEY.md §7.2): synthetic token table → row
  * constraints + table checks → verdicts + violations + checkpoint;
  * resume skips committed partitions; tokens stay byte-identical. */
class PipelineSpec extends SparkSpec {

  val cfg: TokenTable.Config = TokenTable.Config(rows = 4000L, parts = 4, maxLen = 32)
  lazy val table = TokenTable.generate(spark, cfg).cache()
  lazy val vocab = TokenTable.vocabDim(spark, cfg)

  def validator: Validator = Validator(
    TokenTable.constraintSpec(cfg.vocabSize), compile.ValidatorOptions(greedy = true))

  def allChecks: Seq[Check] = Seq(
    RowConstraintCheck(validator),
    UniquenessCheck("doc_id"),
    ReferentialCheck("source", vocab, "source"),
    StatsCheck(Seq(
      ColumnStatsSpec("n_tok", min = Some(1)),
      ColumnStatsSpec("doc_id", maxNullRate = Some(0.5)))),
    KsDriftCheck("n_tok",
      reference = TokenTable.generate(spark, cfg.copy(seed = 7L)), threshold = 0.05),
    Chi2DriftCheck("tokens", explode(col("tokens")),
      reference = TokenTable.generate(spark, cfg.copy(seed = 7L)),
      refKeyExpr = explode(col("tokens")), threshold = 1e6))

  test("generator injects violations at known rates") {
    val n = table.count()
    assert(n == cfg.rows)
    val oob = table.where(exists(col("tokens"), t => t >= cfg.vocabSize || t < 0)).count()
    val mismatch = table.where(col("n_tok") =!= size(col("tokens"))).count()
    val nullDoc = table.where(col("doc_id").isNull).count()
    assert(oob > 0 && mismatch > 0 && nullDoc > 0)
    assert(oob < n / 50 && mismatch < n / 50)
  }

  test("row constraint check: violations carry jsen-style paths") {
    val res = RowConstraintCheck(validator).run(table)
    val kws = res.violations.select("keyword").distinct().collect().map(_.getString(0)).toSet
    assert(kws.contains("maximum")) // out-of-range token
    assert(kws.contains("required")) // null doc_id
    val tokPaths = res.violations.where(col("keyword") === "maximum")
      .select("path").head().getString(0)
    assert(tokPaths.matches("tokens\\.\\d+"), s"unexpected path $tokPaths")
    // verdict arithmetic: every partition fails (violations everywhere)
    val verdicts = res.verdicts.collect()
    assert(verdicts.length == cfg.parts)
    assert(verdicts.forall(!_.getBoolean(2)))
  }

  test("uniqueness check finds injected duplicates") {
    val res = UniquenessCheck("doc_id").run(table)
    val v = res.violations.collect()
    assert(v.nonEmpty)
    // each duplicated key appears at least twice in the violation rows
    val byKey = v.groupBy(_.getString(1)).map(_._2.length)
    assert(byKey.forall(_ >= 2))
  }

  test("typed Dataset path: same verdicts as the DataFrame path, rows untouched") {
    import spark.implicits._
    val ds = data.TokenTable.typed(table)
    val typedOut = validator.validateTyped(ds).collect()
    val dfOut = validator.withValidation(table)
      .select(col("doc_id"), col("valid")).collect()
      .map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap

    assert(typedOut.length == cfg.rows)
    typedOut.foreach { v =>
      assert(v.valid == dfOut(Option(v.row.doc_id)),
        s"typed/DF divergence for ${v.row.doc_id}")
      // invalid rows carry jsen-style error records through the Encoder
      if (!v.valid) assert(v.errors.nonEmpty && v.errors.forall(_.keyword.nonEmpty))
      // token-array byte identity through the typed path
      assert(v.row.n_tok >= 0 && v.row.tokens != null)
    }
    // spot-check byte identity against the untyped source (doc_ids can be
    // duplicated by injection → compare against the id's candidate set)
    val srcTokens = table.select("doc_id", "tokens").where(col("doc_id").isNotNull)
      .as[(String, Array[Int])].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2.toSeq).toSet).toMap
    typedOut.filter(_.row.doc_id != null).take(200).foreach { v =>
      assert(srcTokens(v.row.doc_id).contains(v.row.tokens.toSeq))
    }
  }

  test("withPartsUniverse: identical verdicts without the discovery scan") {
    // the pipeline injects the partition universe so checks skip their
    // per-check distinct(part) scan of the input — outputs must not change
    import spark.implicits._
    val parts = Seq(0, 1, 2, 3)
    for (check <- Seq[Check](
        UniquenessCheck("doc_id"),
        ReferentialCheck("source", vocab, "source"),
        KsDriftCheck("n_tok",
          reference = TokenTable.generate(spark, cfg.copy(seed = 7L)),
          threshold = 0.05))) {
      val base = check.run(table).verdicts.orderBy("part", "check").collect()
      val known = check.withPartsUniverse(parts.toDF("part")).run(table)
        .verdicts.orderBy("part", "check").collect()
      assert(base.toSeq == known.toSeq, s"${check.name} diverged with an injected universe")
    }
  }

  test("referential check flags rogue sources via broadcast anti-join") {
    val res = ReferentialCheck("source", vocab, "source").run(table)
    val rogue = res.violations.select("additional_properties").distinct()
      .collect().map(_.getString(0))
    assert(rogue.nonEmpty)
    assert(rogue.forall(s => s.startsWith("rogue") || s.startsWith("src")))
    // plan must contain a broadcast exchange, not a shuffle join
    val plan = table.join(
      broadcast(vocab.where(col("active")).select(col("source"))),
      Seq("source"), "left_anti").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected broadcast join in plan:\n$plan")
  }

  test("KS drift: same distribution ≈ 0, shifted distribution large") {
    val ref = TokenTable.generate(spark, cfg.copy(seed = 7L))
    val same = KsDriftCheck("n_tok", ref, threshold = 0.05).run(table)
      .verdicts.agg(max("metric_value")).head().getDouble(0)
    assert(same < 0.05, s"same-distribution KS D=$same")
    val shifted = table.withColumn("n_tok", col("n_tok") + lit(12))
    val drifted = KsDriftCheck("n_tok", ref, threshold = 0.05).run(shifted)
      .verdicts.agg(min("metric_value")).head().getDouble(0)
    assert(drifted > 0.2, s"shifted KS D=$drifted")
  }

  test("drift checks survive degenerate inputs (ANSI: no divide-by-zero)") {
    val ref = TokenTable.generate(spark, cfg.copy(seed = 7L))
    // part 0's column entirely NULL → zero observed mass → maximal drift,
    // loud failure (not an ANSI 0/0 crash)
    val withNullPart = table.withColumn("n_tok",
      when(col("part") === 0, lit(null).cast("int")).otherwise(col("n_tok")))
    val v = KsDriftCheck("n_tok", ref, threshold = 0.05).run(withNullPart)
      .verdicts.collect()
    val part0 = v.find(_.getInt(0) == 0).get
    assert(!part0.getBoolean(2) && part0.getDouble(4) >= 0.99,
      s"all-null part should fail with D≈1, got $part0")
    // empty reference must not throw either
    val chi = Chi2DriftCheck("n_tok", col("n_tok"), ref.where(lit(false)),
      col("n_tok"), threshold = 1e12).run(table).verdicts.collect()
    assert(chi.nonEmpty)
  }

  test("chi2 drift flips on perturbed token histogram") {
    val ref = TokenTable.generate(spark, cfg.copy(seed = 7L))
    val cap = 512
    val check = Chi2DriftCheck("tokens",
      explode(col("tokens")), ref, explode(col("tokens")),
      threshold = 2 * cap.toDouble, keyTransform = _ % cap)
    val statSame = check.run(table).verdicts.agg(max("metric_value")).head().getDouble(0)
    // skew all tokens into one bucket → chi2 explodes
    val perturbed = table.withColumn("tokens", transform(col("tokens"), t => t % 3))
    val statDrift = check.run(perturbed).verdicts.agg(min("metric_value")).head().getDouble(0)
    assert(statDrift > 10 * math.max(statSame, 1.0),
      s"chi2 same=$statSame drifted=$statDrift")
  }

  test("PSI drift: near zero on same distribution, flips on shift, finite on disjoint bins") {
    val ref = TokenTable.generate(spark, cfg.copy(seed = 7L))
    val check = PsiDriftCheck("n_tok", ref, threshold = 0.25)
    val same = check.run(table).verdicts.agg(max("metric_value")).head().getDouble(0)
    assert(same < 0.1, s"same-distribution PSI should read stable: $same")
    val shifted = table.withColumn("n_tok", col("n_tok") + lit(40))
    val drift = check.run(shifted).verdicts.agg(min("metric_value")).head().getDouble(0)
    assert(drift > 0.25, s"shifted PSI must cross the drift threshold: $drift")
    assert(!drift.isInfinite && !drift.isNaN,
      "epsilon clamp must keep disjoint-bin PSI finite")
  }

  test("MetricsAnomaly: spike flagged, stable history exact-matches, new key anomalous") {
    import spark.implicits._
    // check A: noisy-but-stable history, current in band; check B: stable
    // history, current spikes; check C: mad=0 history
    val history = (
      (1 to 9).map(r => ("A", r, 10.0 + (r % 3))) ++
      (1 to 9).map(r => ("B", r, 5.0 + (r % 2) * 0.1)) ++
      (1 to 9).map(r => ("C", r, 7.0))
    ).toDF("check", "run", "value")
    val current = Seq(
      ("A", 10, 11.0), ("B", 10, 50.0), ("C", 10, 7.0), ("D", 10, 1.0)
    ).toDF("check", "run", "value")
    val out = graft.checks.MetricsAnomaly
      .flag(history, current, Seq("check"), "value")
      .collect().map(r => r.getAs[String]("check") ->
        Option(r.getAs[java.lang.Boolean]("anomalous")).map(_.booleanValue)).toMap
    assert(out("A") == Some(false), "in-band value must pass")
    assert(out("B") == Some(true), "spike must flag")
    assert(out("C") == Some(false), "unchanged value on a constant history passes")
    assert(out("D") == Some(true), "a key the history never saw is anomalous")
    // constant history, moved value → anomalous even though mad = 0
    val moved = graft.checks.MetricsAnomaly
      .flag(history, Seq(("C", 10, 7.1)).toDF("check", "run", "value"),
        Seq("check"), "value")
      .select("anomalous").head().getBoolean(0)
    assert(moved, "any movement off a perfectly stable history must flag")
  }

  test("maxViolationsPerPart: deterministic first-K written, exact counts kept") {
    val dir = Files.createTempDirectory("graft-pipe-cap").toString
    val k = 3
    val capped = new ValidationPipeline(allChecks,
      PipelineConfig(s"$dir/ckpt", s"$dir/out", maxViolationsPerPart = Some(k)))
      .run(table)
    val written = spark.read.parquet(s"$dir/out/violations")
    // cap holds per (part, check)
    val over = written.groupBy("part", "check").count()
      .where(col("count") > k).count()
    assert(over == 0, "some (part, check) group exceeds the cap")
    // the selection is the deterministic global first-K: equal to a
    // single-window rank over the UNCAPPED frame (two-phase ≡ one-phase)
    val dirAll = Files.createTempDirectory("graft-pipe-all").toString
    val all = new ValidationPipeline(allChecks,
      PipelineConfig(s"$dirAll/ckpt", s"$dirAll/out")).run(table)
    val uncapped = spark.read.parquet(s"$dirAll/out/violations")
    import org.apache.spark.sql.expressions.Window
    val ord = Seq("doc_id", "path", "keyword", "message",
      "additional_properties").map(c => col(c).asc_nulls_first)
    val expected = uncapped.withColumn("_r", row_number()
        .over(Window.partitionBy(col("part"), col("check")).orderBy(ord: _*)))
      .where(col("_r") <= k).drop("_r")
      .collect().map(_.toString).sorted.toSeq
    val got = written.collect().map(_.toString).sorted.toSeq
    assert(got == expected, "capped selection differs from global first-K")
    // verdict counts stay EXACT (aggregate of the check, not the sample)
    val cappedCounts = capped.verdicts
      .select("part", "check", "violation_count").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val allCounts = all.verdicts
      .select("part", "check", "violation_count").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cappedCounts == allCounts)
    assert(cappedCounts.values.exists(_ > k),
      "fixture must actually exceed the cap for this test to bite")
  }

  test("pipeline end-to-end: verdicts, violations, checkpoint, resume") {
    val dir = Files.createTempDirectory("graft-pipe").toString
    val pcfg = PipelineConfig(s"$dir/ckpt", s"$dir/out", lineage = "test-run")

    // full run
    val r1 = new ValidationPipeline(allChecks, pcfg).run(table)
    assert(r1.processedParts == (0 until cfg.parts))
    assert(r1.rowsValidated == cfg.rows)
    val ckpt = new Checkpoint(s"$dir/ckpt")
    assert(ckpt.committedParts() == (0 until cfg.parts).toSet)
    assert(ckpt.readCommits().forall(_.lineage == "test-run"))

    // resume: everything committed → nothing processed
    val r2 = new ValidationPipeline(allChecks, pcfg).run(table)
    assert(r2.processedParts.isEmpty)
    assert(r2.skippedParts == (0 until cfg.parts))

    // partial resume: drop two commits, re-run, outputs equal a full run
    val dir2 = Files.createTempDirectory("graft-pipe2").toString
    val pcfg2 = PipelineConfig(s"$dir2/ckpt", s"$dir2/out")
    val half = new Checkpoint(s"$dir2/ckpt")
    half.commit(PartCommit(0, 0L, 0.0, "pre"))
    half.commit(PartCommit(2, 0L, 0.0, "pre"))
    val r3 = new ValidationPipeline(allChecks, pcfg2).run(table)
    assert(r3.processedParts == Seq(1, 3))
    assert(r3.skippedParts == Seq(0, 2))

    val fullViolations = spark.read.parquet(s"$dir/out/violations")
    val partViolations = spark.read.parquet(s"$dir2/out/violations")
    val fullCount = fullViolations.where(col("part").isin(1, 3)).count()
    assert(partViolations.count() == fullCount)
  }

  /** (persisted RDDs, cache-manager entries): an entry can be registered
    * before any job has materialized its blocks. */
  def cacheState(): (Int, Int) = (spark.sparkContext.getPersistentRDDs.size,
    org.apache.spark.sql.graftbridge.CacheProbe.entries(spark))

  test("both output writes fail: the violations error is kept as suppressed") {
    // an output "directory" that is a regular file: neither the
    // violations nor the verdicts table can be created under it
    val dir = Files.createTempDirectory("graft-pipe-2fail").toString
    val out = Files.createFile(java.nio.file.Paths.get(dir, "out")).toString
    val cachedBefore = cacheState()
    val ex = intercept[Exception] {
      new ValidationPipeline(Seq(RowConstraintCheck(validator)),
        PipelineConfig(s"$dir/ckpt", out)).run(table)
    }
    def aboutOut(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains(out)) || aboutOut(t.getCause))
    // the verdicts error is thrown, the violations error rides on it
    assert(aboutOut(ex), s"expected an output write error, got: $ex")
    assert(ex.getSuppressed.exists(aboutOut),
      s"violations write error lost: suppressed = ${ex.getSuppressed.toSeq}")
    assert(new Checkpoint(s"$dir/ckpt").committedParts().isEmpty)
    // the failed run leaves no cached blocks behind
    assert(cacheState() == cachedBefore)
  }

  test("NULL / non-castable partition values fail fast with a clear error") {
    val dir = Files.createTempDirectory("graft-pipe-null").toString
    val pcfg = PipelineConfig(s"$dir/ckpt", s"$dir/out")
    val poisoned = table.withColumn("part",
      when(col("doc_id").isNull, lit(null)).otherwise(col("part")))
    val cachedBefore = cacheState()
    val ex = intercept[Exception] {
      new ValidationPipeline(Seq(RowConstraintCheck(validator)), pcfg).run(poisoned)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("partition value")),
      s"expected the partition-value error, got: $ex")
    // nothing was committed — the failed run resumes from scratch, and no
    // output partition (in particular no __HIVE_DEFAULT_PARTITION__ from
    // the null part) ever landed: the guard rides every job's scan, so
    // the violations write itself aborts
    assert(new Checkpoint(s"$dir/ckpt").committedParts().isEmpty)
    val violParts = Option(new java.io.File(s"$dir/out/violations").listFiles)
      .toSeq.flatten.map(_.getName).filter(_.startsWith("part="))
    assert(violParts.isEmpty, s"poisoned output committed: $violParts")
    assert(cacheState() == cachedBefore, "the failed run left cached data behind")
  }

  test("run leaves the session's partitionOverwriteMode as it was") {
    // the pipeline's outputs overwrite dynamically by a per-write option;
    // a caller's later `overwrite` + `partitionBy` write must keep the
    // session's own (here static) mode
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "STATIC")
    try {
      val dir = Files.createTempDirectory("graft-pipe-overwrite").toString
      val checks: Seq[Check] = Seq(RowConstraintCheck(validator))
      new ValidationPipeline(checks, PipelineConfig(s"$dir/ckpt1", s"$dir/out"))
        .run(table.where(col("part") < 2))
      assert(spark.conf.get(key) == "STATIC")
      // still dynamic for the pipeline itself: a second run writing parts
      // 2 and 3 into the same output keeps parts 0 and 1
      new ValidationPipeline(checks, PipelineConfig(s"$dir/ckpt2", s"$dir/out"))
        .run(table.where(col("part") >= 2))
      assert(spark.conf.get(key) == "STATIC")
      val parts = spark.read.parquet(s"$dir/out/verdicts")
        .select("part").distinct().collect().map(_.getInt(0)).sorted.toSeq
      assert(parts == Seq(0, 1, 2, 3), s"output parts after two runs: $parts")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("global checks: a new partition appearing after commit cannot leak " +
       "committed-part violations") {
    val dir = Files.createTempDirectory("graft-pipe-newpart").toString
    val pcfg = PipelineConfig(s"$dir/ckpt", s"$dir/out")
    val checks: Seq[Check] = Seq(UniquenessCheck("doc_id"))
    new ValidationPipeline(checks, pcfg).run(table)
    val committedViol = spark.read.parquet(s"$dir/out/violations").count()

    // a new partition duplicating doc_ids that live in committed part 0
    val extra = table.where(col("part") === 0 && col("doc_id").isNotNull)
      .limit(50).withColumn("part", lit(4))
    val r = new ValidationPipeline(checks, pcfg).run(table.unionByName(extra))
    assert(r.processedParts == Seq(4) && r.skippedParts == Seq(0, 1, 2, 3))

    val viol = spark.read.parquet(s"$dir/out/violations")
    // the cross-partition duplicates are reported — but ONLY under the new
    // partition; the committed parts' outputs are untouched (the verify
    // filter keeps re-observed committed-part rows out of the union and
    // dynamic overwrite only rewrites part=4)
    assert(viol.where(col("part") === 4).count() == 50)
    assert(viol.where(col("part") =!= 4).count() == committedViol)
  }

  test("no dedicated pre-count pass: the input is scanned only by the checks") {
    // TEST-ONLY instrumentation: a row-counting UDF filter measures how
    // many times the pipeline scans its input (engine code has no UDFs)
    val dir = Files.createTempDirectory("graft-pipe-scan").toString
    val pcfg = PipelineConfig(s"$dir/ckpt", s"$dir/out")
    val acc = spark.sparkContext.longAccumulator("graft-scan-rows")
    val countRows = udf { () => acc.add(1); true }.asNondeterministic()
    val instrumented = table.filter(countRows())
    new ValidationPipeline(Seq(RowConstraintCheck(validator)), pcfg).run(instrumented)
    // RowConstraintCheck scans the input twice (violations write + verdict
    // aggregation) and the folded row_count aggregation adds one; commit
    // metadata is then served from the row_count cache. The old pipeline's
    // dedicated eager pre-count job made this 4x.
    assert(acc.value == 3 * cfg.rows,
      s"input scanned ${acc.value.toDouble / cfg.rows}x — expected exactly 3x")
  }

  test("tokens remain byte-identical through validation") {
    val validated = validator.withValidation(table)
    val diff = validated.select(col("doc_id"), col("tokens"))
      .exceptAll(table.select(col("doc_id"), col("tokens"))).count()
    assert(diff == 0L)
  }

  test("row validation plan is a pure shuffle-free projection") {
    val validated = validator.withValidation(table)
    val plan = validated.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"validation must not shuffle:\n$plan")
    // NOTE: specs whose compiled tree contains higher-order functions
    // (array `items` descent) fall out of whole-stage codegen because
    // Spark's HOF expressions are CodegenFallback — the custom fused
    // Expression (SURVEY.md §7.1.7) is the v2 fix. Scalar-only specs
    // must stay inside codegen:
    val scalarOnly = Validator(
      """{"properties":{"doc_id":{"type":"string","pattern":"^doc-"},
                        "n_tok":{"minimum":1}},"required":["doc_id"]}""")
    val scalarPlan = scalarOnly.withValidation(
      table.select("doc_id", "n_tok")).queryExecution.executedPlan.toString
    assert(scalarPlan.contains("WholeStageCodegen") || scalarPlan.contains("*(")
      , s"scalar validation fell out of codegen:\n$scalarPlan")
  }

  test("schemaDrift: statuses, ordering, nullability direction, fail-fast") {
    import graft.checks.SchemaDrift
    import org.apache.spark.sql.types._
    val ref = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_tok", IntegerType, nullable = true),
      StructField("source", StringType, nullable = true),
      StructField("tokens", ArrayType(IntegerType), nullable = true)))
    val batch = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),   // loosened
      StructField("n_tok", LongType, nullable = true),    // retyped
      StructField("tokens", ArrayType(IntegerType), nullable = true), // ok
      StructField("crawl", StringType, nullable = true))) // added
    val d = SchemaDrift.diff(batch, ref)
    assert(d.map(_.column) == d.map(_.column).sorted) // deterministic order
    val byCol = d.map(x => x.column -> x.status).toMap
    assert(byCol == Map(
      "doc_id" -> "nullability_loosened", "n_tok" -> "type_changed",
      "source" -> "missing", "tokens" -> "ok", "crawl" -> "added"))
    // nullability TIGHTENING is not drift (batch stricter than contract)
    val tightened = StructType(Seq(StructField("doc_id", LongType, false)))
    val looseRef = StructType(Seq(StructField("doc_id", LongType, true)))
    assert(SchemaDrift.diff(tightened, looseRef).head.status == "ok")
    // nested struct change reads as a top-level retype
    val nestedA = StructType(Seq(StructField("m", StructType(Seq(
      StructField("w", IntegerType))), nullable = true)))
    val nestedB = StructType(Seq(StructField("m", StructType(Seq(
      StructField("w", LongType))), nullable = true)))
    assert(SchemaDrift.diff(nestedA, nestedB).head.status == "type_changed")
    // fail-fast mode throws with the offending columns named
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("doc_id", "n_tok")
    val e = intercept[IllegalStateException] {
      SchemaDrift.check(df, ref, failOnDrift = true)
    }
    assert(e.getMessage.contains("n_tok=type_changed") &&
      e.getMessage.contains("source=missing"))
    // non-fail mode returns the verdict frame (zero jobs — no scan):
    // doc_id ok, n_tok retyped, source+tokens missing
    assert(SchemaDrift.check(df, ref).collect().length == 4)
  }

  test("pipeline schema pre-flight: drift aborts before any job; matching schema runs") {
    import graft.checks.Check
    import org.apache.spark.sql.types._
    import spark.implicits._
    val table = Seq(("d1", Seq(1, 2), 2, "web", 0)).toDF(
      "doc_id", "tokens", "n_tok", "source", "part")
    val checks: Seq[Check] = Seq(UniquenessCheck("doc_id"))
    def cfgFor(ref: StructType) = PipelineConfig(
      checkpointDir = java.nio.file.Files.createTempDirectory("g-ck").toString,
      outputDir = java.nio.file.Files.createTempDirectory("g-out").toString,
      referenceSchema = Some(ref))
    // contract with a retyped column -> throws driver-side, zero jobs
    val badRef = StructType(table.schema.fields.map(f =>
      if (f.name == "n_tok") f.copy(dataType = LongType) else f))
    val e = intercept[IllegalStateException] {
      new ValidationPipeline(checks, cfgFor(badRef)).run(table)
    }
    assert(e.getMessage.contains("n_tok=type_changed"))
    // matching contract -> run proceeds
    val ok = new ValidationPipeline(checks, cfgFor(table.schema)).run(table)
    assert(ok.rowsValidated == 1L)
  }
}
