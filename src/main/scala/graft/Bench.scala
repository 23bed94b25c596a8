package graft

import graft.compile.ValidatorOptions
import graft.data.TokenTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark entry points.
  *
  * `graft.Bench` (driver-run, one JSON line): times the headline
  * token-table validation jobs (the BASELINE.json metric: validated
  * sequences/sec and tokens/sec) plus the full SparkEntry query suite on
  * SPARK_GRAFT_SF_DIR.
  *
  * `graft.ScalingBench`: the N-vs-4N evidence — same parquet input, same
  * jobs, local[8] then local[32]; prints throughput at both and the
  * scaling efficiency (BASELINE.json north_rule: ≥ 0.8). Results are
  * recorded in BENCH.md.
  */
object BenchCore {

  val benchRows: Long = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "4000000").toLong
  val benchCfg: TokenTable.Config =
    TokenTable.Config(rows = benchRows, parts = 32, maxLen = 128)
  def benchDataDir: String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", s"/tmp/graft_bench/rows_$benchRows")

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      // split the scan into ~4+ tasks per core at every parallelism level:
      // with default 128 MB splits this input packs into ~7 partitions, so
      // a single straggler task sets the wall-clock and scaling efficiency
      // measures scheduling luck, not the engine
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Materialize the deterministic token table once (generator output is
    * parallelism-independent, so every run at every core count reads the
    * identical bytes). */
  def ensureData(spark: SparkSession): Unit = ensureData(spark, benchCfg, benchDataDir)

  def ensureData(spark: SparkSession, cfg: TokenTable.Config, dir: String): Unit = {
    val marker = new java.io.File(s"$dir/_SUCCESS")
    if (!marker.exists()) {
      TokenTable.generate(spark, cfg)
        .repartition(64)
        .write.mode("overwrite").parquet(dir)
    }
  }

  def validator: Validator = Validator(
    TokenTable.constraintSpec(benchCfg.vocabSize), ValidatorOptions(greedy = true))

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  /** Fixed-work pure-CPU probe quantifying host weather at measurement
    * time: a 64-bit mix loop (no memory traffic, no syscalls) run on one
    * thread and on `threads` threads. Returns (single-thread Mops/s,
    * all-thread aggregate Mops/s); aggregate/single ≈ the EFFECTIVE core
    * count the hypervisor is delivering right now. Two rounds of driver
    * bench artifacts have been mis-read under host steal (VERDICT r2/r3);
    * embedding this figure makes each artifact self-adjudicating — a
    * quiet window on this VM reads ~27-31 effective cores of 32, a
    * stolen one far less (calibration in BENCH.md §probe). */
  def cpuProbe(threads: Int = 32): (Double, Double) = {
    val iters = 400000000L // ~0.3 s per quiet thread
    def mix(n: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < n) { x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 29; i += 1 }
      x
    }
    mix(iters / 8) // JIT warm-up
    val (_, tSingle) = time(mix(iters))
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val (_, tMulti) = time {
      val ts = (0 until threads).map { _ =>
        val t = new Thread(() => { sink.addAndGet(mix(iters)) })
        t.start(); t
      }
      ts.foreach(_.join())
    }
    (iters / tSingle / 1e6, iters.toDouble * threads / tMulti / 1e6)
  }

  def probeJson(tag: String, threads: Int = 32): String = {
    val (single, total) = cpuProbe(threads)
    f""""$tag":{"mops_single":${single.round},"mops_total":${total.round},"effective_cores":${total / single}%.1f}"""
  }

  /** One headline measurement block: one draw of every headline job,
    * bracketed by its own CPU probes. `quality` is the pessimistic
    * effective-core reading for the window — the artifact's selection
    * key. */
  final case class HeadlineSample(times: Map[String, Double],
                                  effStart: Double, effEnd: Double) {
    def quality: Double = math.min(effStart, effEnd)
  }

  /** The headline jobs over the parquet token table, measured as
    * probe-bracketed SAMPLES so the artifact can SELECT its best-window
    * sample as the headline instead of recording whatever the last (or
    * an averaged) steal window produced (VERDICT r5 "what's wrong" #2:
    * a self-adjudicating artifact should also self-select). Returns
    * (samples, rows, tokens). */
  def headlineSamples(spark: SparkSession,
                      threads: Int): (Vector[HeadlineSample], Long, Long) = {
    val df = spark.read.parquet(benchDataDir)
    val compiled = graft.compile.ConstraintCompiler
      .compile(validator.spec, df.schema, validator.options)

    // warm-up: JIT + codegen + file footers (not measured)
    df.select(compiled.valid.as("v")).where(!col("v")).count()
    val agg = df.agg(count(lit(1)), sum(col("n_tok").cast("long"))).head()
    val rows = agg.getLong(0)
    val tokens = agg.getLong(1)

    // 5 samples: this VM shows up to 10x one-shot variance under
    // hypervisor steal (BENCH.md) — more samples, better odds that one
    // lands in a clean window the probes can certify
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    var invalidCount = 0L
    val samples = (0 until iters).map { _ =>
      val (s0, m0) = cpuProbe(threads)
      val (_, tValid) = time {
        invalidCount = df.select(compiled.valid.as("v")).where(!col("v")).count()
      }
      val (_, tTokens) = time {
        df.agg(count(lit(1)), sum(col("n_tok").cast("long"))).head()
      }
      val (_, tErrors) = time {
        df.select(size(compiled.errors).as("n")).agg(sum("n")).head()
      }
      val (_, tVerdicts) = time {
        df.groupBy("part")
          .agg(sum(compiled.valid.cast("long")), count(lit(1))).collect()
      }
      val (s1, m1) = cpuProbe(threads)
      HeadlineSample(Map(
        "validate_fastpath" -> tValid,
        "scan_count" -> tTokens,
        "validate_greedy_errors" -> tErrors,
        "verdicts_groupby" -> tVerdicts), m0 / s0, m1 / s1)
    }.toVector
    require(invalidCount > 0, "bench table must contain injected violations")
    (samples, rows, tokens)
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = BenchCore.session(cpus)
    BenchCore.ensureData(spark)

    // same-run host-weather probes bracketing the measurements: two
    // rounds of driver artifacts were steal-window misreads (VERDICT
    // r2/r3); with the probe embedded the artifact adjudicates itself
    val probeStart = BenchCore.probeJson("cpu_probe_start", cpus)

    // headline: probe-bracketed samples, SELECT the best-certified
    // window (VERDICT r5 #2 — headline fields must come from the run's
    // best embedded-probe sample, with every sample kept in the record)
    val (samples, rows, tokens) = BenchCore.headlineSamples(spark, cpus)
    val bestIdx = samples.zipWithIndex.maxBy(_._1.quality)._2
    val sel = samples(bestIdx)
    val seqPerSec = rows / sel.times("validate_fastpath")
    val tokPerSec = tokens / sel.times("validate_fastpath")
    val jobs: Map[String, Vector[Double]] =
      samples.flatMap(_.times.toSeq).groupMap(_._1)(_._2).map {
        case (k, v) => k -> v.toVector }

    // full query-suite timings on the sf tables: one unmeasured warm-up
    // (codegen + parquet footers) then N draws per query — this host
    // shows up to 10x one-shot variance under hypervisor steal (BENCH.md),
    // and a single draw measures weather, not the engine
    val qIters = math.max(1, sys.env.get("SPARK_GRAFT_QUERY_ITERS")
      .flatMap(_.toIntOption).getOrElse(3))
    val queryDraws: Seq[(String, Vector[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        def once(failFast: Boolean): Double = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
          catch { case e: Throwable =>
            // a failing query must FAIL the artifact, not record its
            // failure latency as a timing (VERDICT r3 "what's wrong" #4);
            // the count() retry only covers noop-sink incompatibility
            try fn(spark, sfDir).count() catch { case e2: Throwable =>
              if (failFast) throw new IllegalStateException(
                s"bench query $name failed", e2)
              else throw e2
            }
          }
          (System.nanoTime() - t0) / 1e9
        }
        once(failFast = true) // warm-up, discarded; fails fast on breakage
        name -> (0 until qIters).map(_ => once(failFast = false)).toVector
      }

    val probeEnd = BenchCore.probeJson("cpu_probe_end", cpus)

    val allDraws = jobs.toSeq ++ queryDraws
    def jmap(f: Vector[Double] => Double): String = allDraws.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"${f(v)}%.3f" }.mkString("{", ",", "}")
    // `queries` stays best-of-N (the driver-parsed field, comparable with
    // r1-r3 artifacts); `queries_median` is the steal detector — when
    // median >> best the window was noisy and best is the honest figure
    val best = jmap(_.min)
    val med = jmap(BenchCore.median)
    val total = allDraws.map(_._2.min).sum
    val samplesJson = samples.map { s =>
      (s.times.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.3f""" } ++
        Seq(f""""effective_cores_start":${s.effStart}%.1f""",
            f""""effective_cores_end":${s.effEnd}%.1f""")).mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    val windowQuality =
      f""""window_quality":{"selected_sample":$bestIdx,"effective_cores":${sel.quality}%.1f,""" +
      """"policy":"headline fields come from the sample maximizing min(start,end) probe effective cores"}"""
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$best,"sf":"$sfDir",""" +
      s""""queries_median":$med,$probeStart,$probeEnd,""" +
      s""""headline_samples":$samplesJson,$windowQuality,""" +
      s""""bench_rows":$rows,"bench_tokens":$tokens,""" +
      s""""sequences_per_sec":${seqPerSec.round},"tokens_per_sec":${tokPerSec.round}}"""
    println(fullJson)
    // the driver keeps only the LAST 2000 stdout chars and json-parses
    // the final line — the full record above exceeds that (every r5/r6
    // artifact landed "parsed": null), so persist it to a side file and
    // END stdout with a compact line that always fits: headline fields,
    // window quality, and the slowest queries, budget-bounded
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"), fullJson + "\n")
    catch { case _: Throwable => () } // read-only cwd must not fail the bench
    val slowest = allDraws.map { case (k, v) => k -> v.min }
      .sortBy(-_._2)
    val qParts = scala.collection.mutable.ArrayBuffer.empty[String]
    var budget = 900 // chars for the compact queries map
    slowest.foreach { case (k, v) =>
      val part = "\"" + k + "\":" + f"$v%.3f"
      if (budget - part.length - 1 >= 0) { qParts += part; budget -= part.length + 1 }
    }
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""sequences_per_sec":${seqPerSec.round},"tokens_per_sec":${tokPerSec.round},""" +
      s""""bench_rows":$rows,"bench_tokens":$tokens,$windowQuality,""" +
      s""""n_queries":${allDraws.length},""" +
      s""""queries":${qParts.mkString("{", ",", "}")},""" +
      s""""queries_note":"slowest best-of-$qIters subset; full map on the first stdout line and in BENCH_FULL.json"}"""
    // stop BEFORE the final print: with run/outputStrategy=StdoutOutput the
    // fork's stderr (Spark logs) interleaves into stdout, and a shutdown
    // WARN after the compact line would push it out of the driver's
    // 2000-char tail window
    spark.sparkContext.setLogLevel("ERROR")
    try spark.stop() catch { case _: Throwable => () }
    println(compact)
    System.out.flush()
  }
}

/** The N-vs-4N scaling evidence (BASELINE.json north_rule: efficiency
  * ≥ 0.8 from N to 4N executors; `local[N]` is the sandbox proxy for an
  * N-executor cluster per the driver instruction).
  *
  * Methodology — this host is a shared VM with significant hypervisor
  * steal and syscall overhead (a pure-CPU probe shows ~12-15 effective
  * cores and 10-20%% steal under load), so naive one-shot timings measure
  * host weather, not the engine:
  *   - levels are measured in ALTERNATING sessions (A,B,A,B…) so slow
  *     host phases hit both levels equally;
  *   - the first round is warm-up (codegen + page cache) and discarded;
  *   - the reported figure is the MEDIAN of the remaining rounds;
  *   - the input is sized for tens of seconds of steady state at the
  *     smaller level (SPARK_GRAFT_SCALING_ROWS, default 16M rows);
  *   - each fresh session runs one small unmeasured query first so
  *     whole-stage codegen compilation never lands in a measured run.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val levels = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4)
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "5").toInt)
    val rows = sys.env.getOrElse("SPARK_GRAFT_SCALING_ROWS", "16000000").toLong
    val cfg = TokenTable.Config(rows = rows, parts = 32, maxLen = 128)
    val dir = s"/tmp/graft_bench/rows_$rows"

    // data generation always uses full parallelism — the table is
    // materialized once and shared by every level, so generator cores
    // don't touch the measurement
    val s0 = BenchCore.session(Runtime.getRuntime.availableProcessors())
    BenchCore.ensureData(s0, cfg, dir)
    val head = s0.read.parquet(dir)
      .agg(count(lit(1)), sum(col("n_tok").cast("long"))).head()
    val (nRows, nTokens) = (head.getLong(0), head.getLong(1))
    s0.stop()

    val validator = Validator(
      TokenTable.constraintSpec(cfg.vocabSize), ValidatorOptions(greedy = true))
    val times = scala.collection.mutable.Map.empty[Int, Vector[Double]]
      .withDefaultValue(Vector.empty)

    // SPARK_GRAFT_SCALING_JOB: "validate" (default — the narrow
    // whole-stage-codegen scan, the north-rule metric), "dedup" (the
    // MinHash band-join dedup over text synthesized from the token
    // arrays — a genuinely shuffle-bearing workload, evidencing that the
    // engine's shuffle shapes scale too, not just its scans), "session"
    // (native session_window aggregation over events derived
    // deterministically from the token table — the exchange + sort +
    // MergingSessions shape), "curate" (the full multi-stage curation
    // composition — line dedup explode/rebuild + PII + scoring + exact
    // dedup + splits — the end-to-end pipeline shape), or "semantic"
    // (the SemDeDup cell self-join + exact-cosine verify over synthetic
    // embeddings — the embedding-dedup shuffle shape), or "corpus"
    // (Dedup.dedupCorpus end-to-end: banding shuffle + verified pairs +
    // CC loop + survivor anti-join)
    val jobKind = sys.env.getOrElse("SPARK_GRAFT_SCALING_JOB", "validate")

    // host-weather probes bracket the whole alternating run (recorded
    // automatically with every scaling sample — BENCH.md did this by
    // hand through r3): if effective_cores is far below the quiet-window
    // calibration, the sample measures the hypervisor, not the engine
    println(s"{${BenchCore.probeJson("cpu_probe_start")}}")

    (0 to reps).foreach { rep =>
      levels.foreach { cores =>
        val spark = BenchCore.session(cores)
        val df = spark.read.parquet(dir)
        // compile once per level, OUTSIDE the timed region: the constant
        // driver-side compile cost would otherwise bias the lo/hi ratio
        // toward 1 ((t1+c)/(t4+c) < t1/t4) and break comparability with
        // the recorded pre-r3 samples, which timed the scan only
        val compiledValid =
          if (jobKind != "validate") None
          else Some(graft.compile.ConstraintCompiler
            .compile(validator.spec, df.schema, validator.options))
        def job(input: org.apache.spark.sql.DataFrame): Unit = jobKind match {
          case "session" =>
            // deterministic synthetic event stream: ~50k entities, event
            // times hashed over ~28 h, 10-minute session gap → a mix of
            // multi-event sessions and breaks at any input size
            val ev = input.where(col("doc_id").isNotNull).select(
              pmod(xxhash64(col("doc_id")), lit(50000L)).as("user"),
              timestamp_micros(pmod(xxhash64(col("doc_id"), lit(1L)),
                lit(100000000000L))).as("ts"),
              col("n_tok").cast("double").as("value"))
            graft.ops.Sessions.sessionStats(ev, "user", "ts", "value",
              gapSeconds = 600).count()
          case "curate" =>
            val txt = input.where(col("doc_id").isNotNull)
              .select(col("doc_id"), concat_ws(" ", col("tokens")).as("text"))
            // minQuality 0 keeps the downstream dedup/split stages fed
            // (token-digit "words" score low on the alpha heuristic)
            graft.ops.Curation.curate(txt, "doc_id", "text",
              graft.ops.Curation.CurationConfig(minQuality = 0.0)).count()
          case "semantic" =>
            // deterministic synthetic embeddings (16 dims hashed from
            // doc_id, uniform in [-1,1)) + seeded ±1 centroid "corners":
            // the SemDeDup cell self-join + exact-cosine verify shape.
            // Centroid count scales with the input (~160 rows/cell,
            // the published method's sizing rule — k grows with the
            // corpus so cells stay bounded); per-cell pair work is
            // quadratic, so FIXED k would both blow up the work
            // superlinearly and skew it into few join keys
            val k = math.max(64L, math.min(4096L, nRows / 160L)).toInt
            val emb = input.where(col("doc_id").isNotNull).select(
              col("doc_id").as("id"),
              array((0 until 16).map(i =>
                (pmod(xxhash64(col("doc_id"), lit(i)), lit(2000L))
                  .cast("double") / 500.0 - 2.0).cast("float")): _*).as("v"))
            val cents = graft.ops.Similarity.hyperplanes(k, 16, 42L)
            graft.ops.Similarity.semanticDuplicatePairs(emb, "id", "v", 16, cents,
              threshold = 0.9).count()
          case "dedup" =>
            val txt = input.where(col("doc_id").isNotNull)
              .select(col("doc_id"), concat_ws(" ", col("tokens")).as("text"))
            // banding runs once (persisted by the eager pair path) — size
            // the input with SPARK_GRAFT_SCALING_ROWS (dedup is ~10×
            // heavier per row than the validation scan; ~200k rows ≈ a
            // 1-minute 1-core level)
            graft.ops.Dedup.minhashDuplicates(txt, "doc_id", "text",
              threshold = 0.5, shingleN = 3, bands = 8, rowsPerBand = 4).count()
          case "corpus" =>
            // the END-TO-END dedup shape 100-TB users actually run
            // (VERDICT r6 #7): banding shuffle + verified pairs +
            // label-propagation CC loop + survivor anti-join — the
            // full Dedup.dedupCorpus composition, counted to force the
            // final deduplicated corpus
            val txt = input.where(col("doc_id").isNotNull)
              .select(col("doc_id"), concat_ws(" ", col("tokens")).as("text"))
            graft.ops.Dedup.dedupCorpus(txt, "doc_id", "text",
              threshold = 0.5, shingleN = 3, bands = 8, rowsPerBand = 4).count()
          case _ =>
            input.select(compiledValid.get.valid.as("v")).where(!col("v")).count()
        }
        // unmeasured codegen/footers warm-up on a slice
        job(df.limit(50000))
        val (_, t) = BenchCore.time(job(df))
        if (rep > 0) times(cores) = times(cores) :+ t
        spark.stop()
        System.err.println(f"[scaling] job=$jobKind rep=$rep cores=$cores t=$t%.3f s")
      }
    }

    println(s"{${BenchCore.probeJson("cpu_probe_end")}}")

    val results = levels.map { cores =>
      val t = BenchCore.median(times(cores))
      (cores, nRows / t, nTokens / t, t)
    }
    results.foreach { case (cores, sps, tps, t) =>
      println(f"""{"cores":$cores,"median_sec":$t%.3f,"sequences_per_sec":${sps.round},"tokens_per_sec":${tps.round},"rows":$nRows,"reps":$reps}""")
    }
    if (results.length >= 2) {
      // sort by core count so descending args (`ScalingBench 4 1`) can't
      // invert the lo/hi efficiency pair against the north rule
      val ordered = results.sortBy(_._1)
      val lo = ordered.head; val hi = ordered.last
      val ratio = hi._1.toDouble / lo._1
      val eff = (hi._2 / lo._2) / ratio
      println(f"""{"scaling":"${lo._1}->${hi._1}","throughput_ratio":${hi._2 / lo._2}%.3f,"efficiency":$eff%.3f}""")
    }
  }
}

/** Time ONE named gate query (warm-up + best-of-N) — the single-query
  * drill-down `graft.Bench` does for the whole suite.
  * Usage: runMain graft.QueryBench <query_name> [sfDir] [iters] */
object QueryBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryBench <query_name> [sfDir] [iters]")
    val name = args(0)
    // same sfDir resolution as Bench.main: explicit arg > env > default
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = BenchCore.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    def once(): Double = BenchCore.time {
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => fn(spark, sfDir).count() }
    }._2
    once() // warm-up
    val times = (0 until iters).map(_ => once())
    println(f"""{"query":"$name","best_sec":${times.min}%.3f,"times":[${times.map(t => f"$t%.3f").mkString(",")}],"sf":"$sfDir"}""")
    spark.stop()
  }
}
