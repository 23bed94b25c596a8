package graft

import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType}

/** Driver-harness compatibility contract for every gate query: the
  * driver's oracle comparer (pandas sort + hash) cannot sort ArrayType
  * or MapType cells and canonicalizes DecimalType differently from
  * DuckDB's reader — three whole round-4 rows went red on exactly this.
  * Any query that needs a composite output must SERIALIZE it at the
  * gate surface (array_join / to_json / posexplode) and cast decimals
  * to double (round-6, the cross_entropy convention). This spec fails
  * fast on a regression: it analyzes (not executes) every registered
  * query's schema at sf0.001.
  *
  * Model-training queries (CharLm/LmScore/NB/IVF) run their bounded
  * censuses at construction time — sf0.001 keeps that cheap.
  */
class GateSurfaceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("no gate query surfaces ArrayType / MapType / DecimalType") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val schema = q(spark, sfDir).schema
        schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
                    f.dataType.isInstanceOf[MapType] ||
                    f.dataType.isInstanceOf[DecimalType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      "driver-unhashable gate surfaces (serialize arrays/maps, cast " +
        "decimals to double):\n  " + offenders.mkString("\n  "))
  }

  test("LM and DSIR gate queries leave no session cache entry") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    for (name <- Seq("q_lm_score", "q_dsir_weights", "q_dsir_resample")) {
      // caching a plan that is already cached adds no entry, and the
      // schema test above (or another suite) has built these queries
      spark.catalog.clearCache()
      val before = org.apache.spark.sql.graftbridge.CacheProbe.entries(spark)
      assert(SparkEntry.queries(name)(spark, sfDir).collect().nonEmpty, name)
      assert(org.apache.spark.sql.graftbridge.CacheProbe.entries(spark) == before,
        s"$name left its words frame in the session cache")
    }
  }

  test("registry names are unique and oracles reference registered queries") {
    val qNames = SparkEntry.queries.keySet
    val oNames = SparkEntry.oracleSql.keySet
    assert((oNames -- qNames).isEmpty,
      s"oracles without queries: ${(oNames -- qNames).mkString(", ")}")
  }

  test("SparkEntry.entry smoke: per-partition verdict rows on sf0.001") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq ==
      Seq("part", "check", "passed", "violation_count", "metric_value"))
    assert(df.collect().length > 0, "entry must return rows")
  }
}
