package graft.entry

import graft.Validator
import graft.checks._
import graft.compile.ValidatorOptions
import graft.ops.Rounding
import org.apache.spark.sql.functions._

/** Typed row of the documents test table (for the typed-Dataset gate
  * query). */
final case class DocRow(doc_id: Long, text: String, lang: String,
                        source: String, n_chars: Long)

/** Table-level check queries (SURVEY.md §2.8) with independent SQL
  * oracles: exact stats, uniqueness, broadcast-anti referential,
  * KS + chi-square drift, per-partition verdict assembly, the typed
  * Dataset path, and the full pipeline (checkpoint + verdict write)
  * driven end-to-end into a per-run temp dir. */
object CheckQueries {
  import QueryUtil._

  val all: Seq[Q] = Seq(

    // the typed Dataset[T] path: same compiled expressions through
    // case-class Encoders, row travels untouched (Validated[DocRow])
    Q("q_typed_path",
      (s, d) => {
        import s.implicits._
        val ds = T(s, d, "documents").as[DocRow]
        Validator(
          """{"required":["doc_id","text"],
              "properties":{"n_chars":{"minimum":100,"maximum":450},
                            "lang":{"enum":["en","de","fr","es"]}}}""",
          ValidatorOptions(greedy = true))
          .validateTyped(ds)
          .toDF()
          .select(col("row.doc_id").as("doc_id"), col("valid"),
            size(col("errors")).cast("long").as("nviol"))
      },
      Some("""SELECT doc_id,
             ((n_chars IS NULL OR (n_chars >= 100 AND n_chars <= 450))
              AND (lang IS NULL OR lang IN ('en','de','fr','es'))) AS valid,
             (CASE WHEN n_chars IS NOT NULL AND n_chars < 100 THEN 1 ELSE 0 END
            + CASE WHEN n_chars IS NOT NULL AND n_chars > 450 THEN 1 ELSE 0 END
            + CASE WHEN lang IS NOT NULL
                    AND lang NOT IN ('en','de','fr','es') THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM documents""")),

    // the WHOLE pipeline driven end-to-end: fresh temp checkpoint/output
    // dirs per run, two checks + the folded row_count verdicts, reading
    // back the written verdict table — gates the checkpoint commit,
    // dynamic-overwrite write, and verdict assembly deterministically
    Q("q_pipeline_verdicts",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("graft-gate-pipe").toString
        val docs = T(s, d, "documents")
          .withColumn("part", pmod(col("doc_id"), lit(4)).cast("int"))
        val checks: Seq[Check] = Seq(
          RowConstraintCheck(Validator(
            """{"properties":{"n_chars":{"minimum":100,"maximum":450}}}""",
            ValidatorOptions(greedy = true))),
          UniquenessCheck("lang"))
        new graft.pipeline.ValidationPipeline(checks,
          graft.pipeline.PipelineConfig(s"$dir/ckpt", s"$dir/out", lineage = "gate"))
          .run(docs)
        s.read.parquet(s"$dir/out/verdicts")
          .select(col("part").cast("int").as("part"), col("check"),
            col("passed"), col("violation_count"),
            Rounding.roundAt(col("metric_value"), 6).as("metric_value"))
      },
      Some("""WITH rc AS (
                SELECT (doc_id % 4)::INT AS part, 'row_constraint' AS check,
                  bool_and(n_chars IS NULL OR (n_chars >= 100 AND n_chars <= 450)) AS passed,
                  sum(CASE WHEN n_chars IS NOT NULL AND n_chars < 100 THEN 1 ELSE 0 END
                    + CASE WHEN n_chars IS NOT NULL AND n_chars > 450 THEN 1 ELSE 0 END)::BIGINT
                    AS violation_count,
                  round(avg(CASE WHEN n_chars IS NULL OR (n_chars >= 100 AND n_chars <= 450)
                            THEN 1.0 ELSE 0.0 END), 6) AS metric_value
                FROM documents GROUP BY 1),
              uq AS (
                SELECT (doc_id % 4)::INT AS part, 'uniqueness' AS check,
                  count(CASE WHEN lang IN (SELECT lang FROM documents
                                           WHERE lang IS NOT NULL
                                           GROUP BY 1 HAVING count(*) > 1)
                             THEN 1 END) = 0 AS passed,
                  count(CASE WHEN lang IN (SELECT lang FROM documents
                                           WHERE lang IS NOT NULL
                                           GROUP BY 1 HAVING count(*) > 1)
                             THEN 1 END)::BIGINT AS violation_count,
                  NULL::DOUBLE AS metric_value
                FROM documents GROUP BY 1),
              cnt AS (
                SELECT (doc_id % 4)::INT AS part, 'row_count' AS check,
                  true AS passed, 0::BIGINT AS violation_count,
                  count(*)::DOUBLE AS metric_value
                FROM documents GROUP BY 1)
              SELECT * FROM rc UNION ALL SELECT * FROM uq UNION ALL SELECT * FROM cnt""")),

    // violation-output cap (PipelineConfig.maxViolationsPerPart): the
    // written violations are the DETERMINISTIC first K per (part, check)
    // by (doc_id, path, keyword, …) — restatable as one SQL row_number
    // because (doc_id, path, keyword) is unique per group, so the
    // longer tie-break never reorders. Gates the two-phase salted top-K
    // (capViolations) against the single-window definition, end-to-end
    // through the pipeline's write.
    Q("q_pipeline_violations_cap",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("graft-gate-cap").toString
        val docs = T(s, d, "documents")
          .withColumn("part", pmod(col("doc_id"), lit(4)).cast("int"))
        val checks: Seq[Check] = Seq(
          RowConstraintCheck(Validator(
            """{"properties":{"n_chars":{"minimum":150,"maximum":400},
                              "lang":{"enum":["en","de","fr"]},
                              "source":{"pattern":"^src\\d+$"}}}""",
            ValidatorOptions(greedy = true))))
        new graft.pipeline.ValidationPipeline(checks,
          graft.pipeline.PipelineConfig(s"$dir/ckpt", s"$dir/out",
            maxViolationsPerPart = Some(5)))
          .run(docs)
        s.read.parquet(s"$dir/out/violations")
          .select(col("part").cast("int").as("part"), col("doc_id"),
            col("path"), col("keyword"), col("check"))
      },
      Some("""WITH v AS (
                SELECT (doc_id % 4)::INT AS part, doc_id::VARCHAR AS doc_id,
                       'n_chars' AS path, 'minimum' AS keyword
                FROM documents WHERE n_chars IS NOT NULL AND n_chars < 150
                UNION ALL
                SELECT (doc_id % 4)::INT, doc_id::VARCHAR, 'n_chars', 'maximum'
                FROM documents WHERE n_chars IS NOT NULL AND n_chars > 400
                UNION ALL
                SELECT (doc_id % 4)::INT, doc_id::VARCHAR, 'lang', 'enum'
                FROM documents WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr')
                UNION ALL
                SELECT (doc_id % 4)::INT, doc_id::VARCHAR, 'source', 'pattern'
                FROM documents
                WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src\d+$')),
              r AS (
                SELECT *, row_number() OVER (PARTITION BY part
                  ORDER BY doc_id, path, keyword) AS rn
                FROM v)
              SELECT part, doc_id, path, keyword,
                     'row_constraint' AS check
              FROM r WHERE rn <= 5""")),

    Q("q_stats_exact",
      (s, d) => {
        val df = T(s, d, "orders").withColumn("part",
          pmod(col("o_orderkey"), lit(4)).cast("int"))
        df.groupBy("part").agg(
          count(lit(1)).as("n_rows"),
          Rounding.roundAt(min("o_totalprice"), 2).as("price_min"),
          Rounding.roundAt(max("o_totalprice"), 2).as("price_max"),
          sum(col("o_custkey").isNull.cast("long")).as("cust_nulls"),
          countDistinct("o_custkey").as("cust_distinct"))
      },
      Some("""SELECT (o_orderkey % 4)::INT AS part, count(*) AS n_rows,
                round(min(o_totalprice), 2) AS price_min,
                round(max(o_totalprice), 2) AS price_max,
                sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS cust_nulls,
                count(DISTINCT o_custkey) AS cust_distinct
              FROM orders GROUP BY 1""")),

    // exact interpolated quantiles (Spark `percentile` ≡ DuckDB
    // quantile_cont, both rank = p*(n-1) with linear interpolation); at
    // 10^12 rows the same query runs on the KLL sketch instead — see
    // q_quantile_sketch for the sketch path
    // scalar columns (q25/q50/q75), not an array column — the driver's
    // comparator sorts with pandas, which cannot sort list-typed cells
    Q("q_stats_quantiles",
      (s, d) => {
        val df = Tspread(s, d, "orders", Seq("o_orderkey")).withColumn("part",
          pmod(col("o_orderkey"), lit(4)).cast("int"))
        df.groupBy("part").agg(
          Rounding.roundAt(expr("percentile(o_totalprice, 0.25D)"), 2).as("price_q25"),
          Rounding.roundAt(expr("percentile(o_totalprice, 0.5D)"), 2).as("price_q50"),
          Rounding.roundAt(expr("percentile(o_totalprice, 0.75D)"), 2).as("price_q75"))
      },
      Some("""SELECT (o_orderkey % 4)::INT AS part,
                round(quantile_cont(o_totalprice, 0.25), 2) AS price_q25,
                round(quantile_cont(o_totalprice, 0.5), 2) AS price_q50,
                round(quantile_cont(o_totalprice, 0.75), 2) AS price_q75
              FROM orders GROUP BY 1""")),

    // KLL-sketch quantiles (mergeable, persistable — the 10^12-row path).
    // Approximate by construction, so the oracled columns are the
    // invariants: row count per part, and the estimated median landing
    // inside the true rank band [p40, p60] (KLL rank error « 0.1 at this
    // k; the exact-error contract is asserted in KllSpec). Scalar columns
    // only — the driver's pandas comparator cannot sort array cells.
    Q("q_quantile_sketch",
      (s, d) => {
        import graft.sketch.{functions => gf}
        val df = T(s, d, "documents").withColumn("part",
          pmod(col("doc_id"), lit(4)).cast("int"))
        df.groupBy("part").agg(
          gf.kll_quantiles(gf.kll_sketch(col("n_chars")), Seq(0.5))
            .getItem(0).as("est_median"),
          expr("percentile(n_chars, 0.4D)").as("lo"),
          expr("percentile(n_chars, 0.6D)").as("hi"),
          count(lit(1)).as("n_rows"))
          .select(col("part"), col("n_rows"),
            (col("est_median") >= col("lo") && col("est_median") <= col("hi"))
              .as("median_in_band"))
      },
      Some("""SELECT (doc_id % 4)::INT AS part, count(*) AS n_rows,
                     true AS median_in_band
              FROM documents GROUP BY 1""")),

    // same sketch through the SQL surface (GraftFunctions registered on
    // the live session — the spark.sql.extensions path for spark-submit):
    // exact oracle on the invariant parts (count; quartile ordering is
    // checked by the engine-side HAVING-style filter)
    Q("q_quantile_sketch_sql",
      (s, d) => {
        graft.ext.GraftFunctions.register(s)
        T(s, d, "documents").createOrReplaceTempView("graft_docs_sql")
        s.sql("""
          SELECT CAST(doc_id % 4 AS INT) AS part,
                 count(*) AS n_rows,
                 kll_quantiles(kll_sketch(n_chars), array(0.5D))[0]
                   BETWEEN min(n_chars) AND max(n_chars) AS median_in_range
          FROM graft_docs_sql
          GROUP BY 1""")
      },
      // exact columns oracled; the sketch estimate is approximate by
      // construction, so it is oracled as the bounded-sanity flag (its
      // rank-error contract is asserted in KllSpec)
      Some("""SELECT (doc_id % 4)::INT AS part, count(*) AS n_rows,
                     true AS median_in_range
              FROM documents GROUP BY 1""")),

    Q("q_uniqueness_dups",
      (s, d) => {
        val df = T(s, d, "orders")
          .withColumn("part", pmod(col("o_orderkey"), lit(4)).cast("int"))
        UniquenessCheck("o_custkey").run(df)
          .violations.groupBy("doc_id").agg(count(lit(1)).as("occurrences"))
      },
      Some("""SELECT CAST(o_custkey AS VARCHAR) AS doc_id, count(*) AS occurrences
              FROM orders
              WHERE o_custkey IN (SELECT o_custkey FROM orders GROUP BY 1 HAVING count(*) > 1)
              GROUP BY 1""")),

    Q("q_referential_anti",
      (s, d) => {
        val nation = T(s, d, "nation")
          .withColumn("part", pmod(col("n_nationkey"), lit(2)).cast("int"))
        val dimOk = T(s, d, "region").where(col("r_regionkey") <= 2)
        ReferentialCheck("n_regionkey", dimOk, "r_regionkey",
          activeCol = None, idCol = "n_nationkey").run(nation)
          .violations.select(col("doc_id"), col("additional_properties"))
      },
      Some("""SELECT CAST(n_nationkey AS VARCHAR) AS doc_id,
                     CAST(n_regionkey AS VARCHAR) AS additional_properties
              FROM nation WHERE n_regionkey NOT IN
                (SELECT r_regionkey FROM region WHERE r_regionkey <= 2)""")),

    // Bloom-screened referential check (the no-broadcast-join scale
    // path): the dimension collapses to one filter blob, the fact scan
    // probes it per row. Sized at fpp=1e-8 the screen is exact on this
    // data (deterministic — verified at every sf), so the oracle is the
    // same NOT IN restatement as the anti-join check; the filter's
    // no-false-negative contract is additionally property-tested in
    // BloomSpec.
    Q("q_referential_bloom",
      (s, d) => {
        val orders = T(s, d, "orders")
          .withColumn("part", pmod(col("o_orderkey"), lit(2)).cast("int"))
        val dimOk = T(s, d, "customer").where(pmod(col("c_custkey"), lit(10)) =!= 0)
        ReferentialBloomCheck("o_custkey", dimOk, "c_custkey",
          expectedKeys = 100000L, fpp = 1e-8,
          activeCol = None, idCol = "o_orderkey").run(orders)
          .violations.select(col("doc_id"), col("additional_properties"))
      },
      Some("""SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
                     CAST(o_custkey AS VARCHAR) AS additional_properties
              FROM orders WHERE o_custkey NOT IN
                (SELECT c_custkey FROM customer WHERE c_custkey % 10 <> 0)""")),

    // two-sample KS between odd and even order keys on binned total price;
    // the oracle restates the binned-CDF max-gap computation in SQL
    Q("q_drift_ks",
      (s, d) => {
        val orders = T(s, d, "orders")
        val obs = orders.where(pmod(col("o_orderkey"), lit(2)) === 1)
          .withColumn("part", lit(0))
        val ref = orders.where(pmod(col("o_orderkey"), lit(2)) === 0)
        KsDriftCheck("o_totalprice", ref, threshold = 0.05,
          bin = c => floor(c / 10000)).run(obs)
          .verdicts.select(col("part"), Rounding.roundAt(col("metric_value"), 6).as("ks_d"))
      },
      Some("""WITH obs AS (
                SELECT floor(o_totalprice/10000) AS bin, count(*) AS o_cnt
                FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1),
              ref AS (
                SELECT floor(o_totalprice/10000) AS bin, count(*) AS r_cnt
                FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
              j AS (
                SELECT coalesce(obs.bin, ref.bin) AS bin,
                       coalesce(o_cnt, 0) AS o_cnt, coalesce(r_cnt, 0) AS r_cnt
                FROM obs FULL OUTER JOIN ref ON obs.bin = ref.bin),
              c AS (
                SELECT sum(o_cnt) OVER (ORDER BY bin) / (sum(o_cnt) OVER ())::DOUBLE AS o_cdf,
                       sum(r_cnt) OVER (ORDER BY bin) / (sum(r_cnt) OVER ())::DOUBLE AS r_cdf
                FROM j)
              SELECT 0 AS part, round(max(abs(o_cdf - r_cdf)), 6) AS ks_d FROM c""")),

    Q("q_drift_chi2",
      (s, d) => {
        val li = T(s, d, "lineitem")
        val obs = li.where(pmod(col("l_orderkey"), lit(2)) === 1)
          .withColumn("part", lit(0))
        val ref = li.where(pmod(col("l_orderkey"), lit(2)) === 0)
        Chi2DriftCheck("l_returnflag", col("l_returnflag"), ref,
          col("l_returnflag"), threshold = 100.0).run(obs)
          .verdicts.select(col("part"), Rounding.roundAt(col("metric_value"), 4).as("chi2"))
      },
      Some("""WITH obs AS (
                SELECT l_returnflag AS key, count(*)::DOUBLE AS o
                FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1),
              ref AS (
                SELECT l_returnflag AS key, count(*)::DOUBLE AS r
                FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
              j AS (
                SELECT coalesce(o, 0) AS o,
                       coalesce(r, 0) / (SELECT sum(r) FROM ref) AS p
                FROM obs FULL OUTER JOIN ref ON obs.key = ref.key),
              t AS (SELECT sum(o) AS n FROM j)
              SELECT 0 AS part,
                round(sum(pow(o - p*n, 2) / greatest(p*n, 0.5)), 4) AS chi2
              FROM j, t""")),

    // categorical drift via the mergeable FreqSketch profile (persisted
    // blob, bounded per-partition state): capacity far exceeds the lang
    // cardinality, so the sketch is exact here and the oracle recomputes
    // the restricted chi² from exact counts
    Q("q_drift_freq",
      (s, d) => {
        val docs = T(s, d, "documents")
        val profile = FreqDriftCheck.buildProfile(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), "lang", capacity = 64)
        FreqDriftCheck("lang", profile, threshold = 100.0, capacity = 64)
          .run(docs.where(pmod(col("doc_id"), lit(2)) === 1)
            .withColumn("part", lit(0)))
          .verdicts.select(col("part"), Rounding.roundAt(col("metric_value"), 4).as("chi2"))
      },
      Some("""WITH ref AS (
                SELECT lang AS key, count(*)::DOUBLE AS r FROM documents
                WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1),
              obs AS (
                SELECT lang AS key, count(*)::DOUBLE AS o FROM documents
                WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1),
              j AS (
                SELECT coalesce(o, 0) AS o,
                       r / (SELECT sum(r) FROM ref) AS p
                FROM ref LEFT JOIN obs USING (key)),
              t AS (SELECT sum(o) AS n FROM j)
              SELECT 0 AS part,
                round(sum(pow(o - p*n, 2) / greatest(p*n, 0.5)), 4) AS chi2
              FROM j, t""")),

    Q("q_verdicts",
      (s, d) => {
        val df = T(s, d, "documents")
          .withColumn("part", pmod(col("doc_id"), lit(4)).cast("int"))
        RowConstraintCheck(
          Validator("""{"properties":{"n_chars":{"minimum":100,"maximum":450}}}""",
            ValidatorOptions(greedy = true))).run(df)
          .verdicts.select(col("part"), col("check"), col("passed"),
            col("violation_count"), Rounding.roundAt(col("metric_value"), 6).as("valid_rate"))
      },
      Some("""SELECT (doc_id % 4)::INT AS part, 'row_constraint' AS check,
                bool_and(n_chars IS NULL OR (n_chars >= 100 AND n_chars <= 450)) AS passed,
                sum(CASE WHEN n_chars IS NOT NULL AND n_chars < 100 THEN 1 ELSE 0 END
                  + CASE WHEN n_chars IS NOT NULL AND n_chars > 450 THEN 1 ELSE 0 END)::BIGINT
                  AS violation_count,
                round(avg(CASE WHEN n_chars IS NULL OR (n_chars >= 100 AND n_chars <= 450)
                          THEN 1.0 ELSE 0.0 END), 6) AS valid_rate
              FROM documents GROUP BY 1""")),

    // data-driven constraint suggestion (profile → draft-4 spec): the
    // profile row per column — exact counts, bounds, scaled-rounded null
    // fraction, conditional enum gathering — restated per column; the
    // enum CASE keeps the oracle sf-independent (source crosses the
    // cardinality cap between sfs)
    Q("q_suggest_constraints",
      // enum_values is an ARRAY internally (sorted, ≤8 entries); the gate
      // surface serializes it ('|' join, NULL -> '' — DuckDB's
      // array_to_string returns NULL for empty lists so '' is the one
      // unambiguous no-enum spelling) because the driver's comparer
      // cannot sort array cells
      (s, d) => SuggestConstraints.profile(T(s, d, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .withColumn("enum_values",
          coalesce(array_join(col("enum_values"), "|"), lit(""))),
      Some {
        def numCol(c: String, dtype: String) =
          s"""SELECT '$c' AS "column", '$dtype' AS dtype,
                count(*)::BIGINT AS n_rows,
                (count(*) - count($c))::BIGINT AS n_nulls,
                round((count(*) - count($c))::DOUBLE / count(*), 6) AS null_frac,
                count(DISTINCT $c)::BIGINT AS n_distinct,
                min($c)::DOUBLE AS min_num, max($c)::DOUBLE AS max_num,
                NULL::BIGINT AS min_len, NULL::BIGINT AS max_len,
                CASE WHEN count(DISTINCT $c) BETWEEN 1 AND 8
                     THEN coalesce(array_to_string(
                            list_sort(list(DISTINCT $c::VARCHAR)
                                      FILTER (WHERE $c IS NOT NULL)), '|'), '')
                     ELSE '' END AS enum_values
              FROM documents"""
        def strCol(c: String) =
          s"""SELECT '$c' AS "column", 'string' AS dtype,
                count(*)::BIGINT AS n_rows,
                (count(*) - count($c))::BIGINT AS n_nulls,
                round((count(*) - count($c))::DOUBLE / count(*), 6) AS null_frac,
                count(DISTINCT $c)::BIGINT AS n_distinct,
                NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,
                min(length($c))::BIGINT AS min_len,
                max(length($c))::BIGINT AS max_len,
                CASE WHEN count(DISTINCT $c) BETWEEN 1 AND 8
                     THEN coalesce(array_to_string(
                            list_sort(list(DISTINCT $c)
                                      FILTER (WHERE $c IS NOT NULL)), '|'), '')
                     ELSE '' END AS enum_values
              FROM documents"""
        Seq(numCol("doc_id", "bigint"), strCol("text"), strCol("lang"),
          strCol("source"), numCol("n_chars", "bigint"))
          .mkString("\n              UNION ALL\n              ")
      }),

    // PSI drift on binned n_chars (scale-free in sample size, the
    // production-ML drift convention); epsilon clamp and summation
    // restated term-for-term
    Q("q_drift_psi",
      (s, d) => {
        val docs = T(s, d, "documents")
        val obs = docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("part", lit(0))
        val ref = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        PsiDriftCheck("n_chars", ref,
          bin = c => floor(c / lit(50)).cast("long")).run(obs)
          .verdicts.select(col("part"),
            Rounding.roundAt(col("metric_value"), 4).as("psi"))
      },
      Some("""WITH obs AS (
                SELECT n_chars // 50 AS bin, count(*)::DOUBLE AS o
                FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
                GROUP BY 1),
              ref AS (
                SELECT n_chars // 50 AS bin, count(*)::DOUBLE AS r
                FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
                GROUP BY 1),
              j AS (
                SELECT coalesce(o, 0) AS o,
                       coalesce(r, 0) / (SELECT greatest(sum(r), 1.0) FROM ref) AS p
                FROM obs FULL OUTER JOIN ref USING (bin)),
              t AS (SELECT greatest(sum(o), 1.0) AS n FROM j)
              SELECT 0 AS part,
                round(sum((greatest(o/n, 1e-6) - greatest(p, 1e-6)) *
                          ln(greatest(o/n, 1e-6) / greatest(p, 1e-6))), 4) AS psi
              FROM j, t""")),

    // metrics-history anomaly detection: nine synthetic "runs" (doc_id
    // decades) of a per-lang mean-length metric form the history, run 9
    // is scored against the robust median/MAD band; sum/count instead of
    // avg keeps the metric arithmetic engine-exact, and the odd history
    // count keeps both medians element-exact
    Q("q_metrics_anomaly",
      (s, d) => {
        val m = T(s, d, "documents")
          .groupBy(col("lang"), pmod(col("doc_id"), lit(10)).cast("int").as("run"))
          .agg((sum("n_chars").cast("double") / count(lit(1))).as("value"))
        MetricsAnomaly.flagRun(m, "run", 9, Seq("lang"), "value")
          .select(col("lang"), col("run"),
            Rounding.roundAt(col("value"), 6).as("value"),
            Rounding.roundAt(col("hist_median"), 6).as("hist_median"),
            Rounding.roundAt(col("robust_z"), 6).as("robust_z"),
            col("anomalous"))
      },
      Some("""WITH m AS (
                SELECT lang, (doc_id % 10)::INT AS run,
                  sum(n_chars)::DOUBLE / count(*) AS value
                FROM documents GROUP BY 1, 2),
              h AS (SELECT * FROM m WHERE run <> 9),
              c AS (SELECT * FROM m WHERE run = 9),
              med AS (SELECT lang, median(value) AS _med FROM h GROUP BY 1),
              mad AS (SELECT h.lang, median(abs(h.value - med._med)) AS _mad
                      FROM h JOIN med USING (lang) GROUP BY 1)
              SELECT c.lang, c.run, round(c.value, 6) AS value,
                round(_med, 6) AS hist_median,
                CASE WHEN _mad > 0
                     THEN round((c.value - _med) / (_mad * 1.4826), 6) END AS robust_z,
                CASE WHEN _mad > 0
                     THEN abs((c.value - _med) / (_mad * 1.4826)) > 3.5
                     ELSE c.value <> _med END AS anomalous
              FROM c JOIN med USING (lang) JOIN mad ON mad.lang = c.lang""")),

    // schema-drift check: a mutated batch schema (lang dropped, n_chars
    // narrowed to int, crawl_id added) against the documents contract;
    // the oracle restates the full-outer set diff + status CASE over the
    // same two column lists (the batch list = the mutation applied to
    // the KNOWN fixed testdata schema)
    Q("q_schema_drift",
      (s, d) => {
        val docs = T(s, d, "documents")
        val batch = docs.drop("lang")
          .withColumn("n_chars", col("n_chars").cast("int"))
          .withColumn("crawl_id", lit("c1"))
        graft.checks.SchemaDrift.diffDf(s, batch.schema, docs.schema)
      },
      Some("""WITH batch(name, typ) AS (VALUES
                ('doc_id','bigint'), ('text','string'), ('source','string'),
                ('n_chars','int'), ('crawl_id','string')),
              ref(name, typ) AS (VALUES
                ('doc_id','bigint'), ('text','string'), ('lang','string'),
                ('source','string'), ('n_chars','bigint')),
              j AS (
                SELECT coalesce(b.name, r.name) AS col_name,
                       b.typ AS bt, r.typ AS rt
                FROM batch b FULL OUTER JOIN ref r ON b.name = r.name)
              SELECT col_name AS "column",
                CASE WHEN rt IS NULL THEN 'added'
                     WHEN bt IS NULL THEN 'missing'
                     WHEN bt <> rt THEN 'type_changed'
                     ELSE 'ok' END AS status,
                bt AS batch_type, rt AS reference_type
              FROM j""")),
  )
}
