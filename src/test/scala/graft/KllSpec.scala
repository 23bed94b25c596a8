package graft

import graft.checks.{Check, SketchDriftCheck}
import graft.sketch.{functions => gf, KllSketch}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** KLL sketch: rank-error bounds vs exact quantiles, merge associativity,
  * serialization, the Catalyst aggregate (partial+final merge across
  * partitions), and the persisted-profile drift check. */
class KllSpec extends SparkSpec {

  private def exactQuantile(sorted: Array[Double], p: Double): Double =
    sorted(math.min(sorted.length - 1, math.max(0, (p * sorted.length).toInt)))

  private def rankOf(sorted: Array[Double], v: Double): Double = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toDouble / sorted.length
  }

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  test("rank error within bound on uniform and skewed data") {
    for ((name, data) <- Seq(
      "uniform" -> lcg(1).take(100000).map(s => ((s >>> 11).toDouble / (1L << 53)) * 1000.0).toArray,
      "zipfish" -> lcg(2).take(100000).map(s => math.pow(((s >>> 11).toDouble / (1L << 53)), 4) * 1e6).toArray)) {
      val sk = KllSketch.empty(200)
      data.foreach(sk.update)
      val sorted = data.sorted
      for (p <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
        val est = sk.quantile(p)
        val estRank = rankOf(sorted, est)
        assert(math.abs(estRank - p) < 0.025,
          s"$name p=$p est=$est estRank=$estRank")
      }
      assert(sk.quantile(0.0) == sorted.head)
      assert(sk.quantile(1.0) == sorted.last)
      assert(sk.count == data.length)
    }
  }

  test("merge matches single-sketch accuracy; serialization roundtrips") {
    val all = lcg(3).take(60000).map(s => (s >>> 11).toDouble / (1L << 53)).toArray
    val parts = all.grouped(7919).toSeq
    val merged = KllSketch.empty(200)
    parts.foreach { chunk =>
      val sk = KllSketch.empty(200)
      chunk.foreach(sk.update)
      val rt = KllSketch.deserialize(sk.serialize()) // roundtrip every part
      merged.merge(rt)
    }
    assert(merged.count == all.length)
    val sorted = all.sorted
    for (p <- Seq(0.1, 0.5, 0.9)) {
      val estRank = rankOf(sorted, merged.quantile(p))
      assert(math.abs(estRank - p) < 0.03, s"p=$p estRank=$estRank")
    }
    // cdf inverse-consistency
    val mid = merged.quantile(0.5)
    assert(math.abs(merged.cdf(mid) - 0.5) < 0.03)
  }

  test("kll_sketch aggregate: distributed result ≈ exact quantiles") {
    import spark.implicits._
    val n = 50000
    val df = spark.range(n).repartition(8)
      .select((col("id") % 1000).cast("double").as("v"))
    val blob = df.agg(gf.kll_sketch(col("v"), 200)).head().getAs[Array[Byte]](0)
    val sk = KllSketch.deserialize(blob)
    assert(sk.count == n)
    for (p <- Seq(0.25, 0.5, 0.75)) {
      val est = sk.quantile(p)
      assert(math.abs(est - p * 1000) < 40, s"p=$p est=$est")
    }
    // kll_quantiles scalar over the blob column
    val qs = df.agg(gf.kll_quantiles(gf.kll_sketch(col("v"), 200), Seq(0.5)))
      .head().getSeq[Double](0)
    assert(math.abs(qs.head - 500.0) < 40)
  }

  test("kll_sketch aggregate plan uses partial aggregation (objHashAgg)") {
    val df = spark.range(10000).select((col("id") % 5).cast("int").as("part"),
      col("id").cast("double").as("v"))
    val plan = df.groupBy("part").agg(gf.kll_sketch(col("v")))
      .queryExecution.executedPlan.toString
    // TypedImperativeAggregate runs partial+final; both modes must appear
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(plan.contains("partial_kll_sketch") || plan.contains("partial"), plan.take(2000))
  }

  test("SketchDriftCheck: clean sample passes, shifted sample flips") {
    val clean = spark.range(20000)
      .select(pmod(col("id"), lit(4)).cast("int").as(Check.PartCol),
        (col("id") % 100).cast("double").as("n_tok"))
    val profile = SketchDriftCheck.buildProfile(clean, "n_tok")

    val same = SketchDriftCheck("n_tok", profile, threshold = 0.05).run(clean)
    val verdicts = same.verdicts.collect()
    assert(verdicts.length == 4 && verdicts.forall(_.getAs[Boolean]("passed")))

    val shifted = clean.withColumn("n_tok", col("n_tok") + lit(50.0))
    val drifted = SketchDriftCheck("n_tok", profile, threshold = 0.05).run(shifted)
    assert(drifted.verdicts.collect().forall(!_.getAs[Boolean]("passed")))
  }

  test("ks distance: identical sketches ~0, disjoint sketches ~1") {
    val a = KllSketch.empty(100); val b = KllSketch.empty(100); val c = KllSketch.empty(100)
    (1 to 5000).foreach { i => a.update(i.toDouble); b.update(i.toDouble) }
    (1 to 5000).foreach(i => c.update(10000.0 + i))
    assert(KllSketch.ksDistance(a, b) < 0.02)
    assert(KllSketch.ksDistance(a, c) > 0.98)
  }

  test("kll_ks expression equals driver-side ksDistance (Column and SQL)") {
    import graft.sketch.{functions => gf}
    import org.apache.spark.sql.functions._
    val df = spark.range(4000).select(
      (col("id") % 4).cast("int").as("part"),
      (col("id") % 97).cast("double").as("v"))
    val profile = graft.checks.SketchDriftCheck.buildProfile(
      df.where(col("part") === 0), "v")

    val viaExpr = df.groupBy("part")
      .agg(gf.kll_ks(gf.kll_sketch(col("v")), lit(profile)).as("d"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val viaDriver = df.groupBy("part").agg(gf.kll_sketch(col("v")).as("s"))
      .collect().map { r =>
        r.getInt(0) -> KllSketch.ksDistance(
          KllSketch.deserialize(r.getAs[Array[Byte]]("s")),
          KllSketch.deserialize(profile))
      }.toMap
    assert(viaExpr == viaDriver, s"expr=$viaExpr driver=$viaDriver")

    graft.ext.GraftFunctions.register(spark)
    df.createOrReplaceTempView("kll_ks_t")
    val sqlD = spark.sql(
      "SELECT kll_ks(kll_sketch(v), kll_sketch(v)) FROM kll_ks_t")
      .head().getDouble(0)
    assert(sqlD == 0.0, s"self KS distance should be 0, got $sqlD")
  }

  test("kll_ks on an empty sketch: 1.0 against a non-empty one, 0.0 against an empty one") {
    import graft.sketch.{functions => gf}
    import org.apache.spark.sql.functions._
    val df = spark.range(100).select(
      (col("id") % 2).cast("int").as("part"),
      when(col("id") % 2 === 0, col("id").cast("double")).as("v")) // part 1 all NULL
    val empty = KllSketch.empty().serialize()
    val full = graft.checks.SketchDriftCheck.buildProfile(df, "v")
    val viaColumn = df.groupBy("part").agg(gf.kll_sketch(col("v")).as("s"))
      .select(col("part"), gf.kll_ks(col("s"), lit(full)).as("vs_full"),
        gf.kll_ks(col("s"), lit(empty)).as("vs_empty"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(viaColumn(1) == (1.0, 0.0), s"all-NULL part: ${viaColumn(1)}")
    assert(viaColumn(0)._2 == 1.0, s"non-empty part against an empty sketch: ${viaColumn(0)}")
    assert(KllSketch.ksDistance(KllSketch.empty(), KllSketch.empty()) == 0.0)

    graft.ext.GraftFunctions.register(spark)
    df.createOrReplaceTempView("kll_ks_empty_t")
    val viaSql = spark.sql(
      """SELECT kll_ks(kll_sketch(IF(part = 1, v, NULL)), kll_sketch(v)),
                kll_ks(kll_sketch(IF(part = 1, v, NULL)), kll_sketch(IF(part = 1, v, NULL)))
         FROM kll_ks_empty_t""").head()
    assert(viaSql.getDouble(0) == 1.0 && viaSql.getDouble(1) == 0.0, s"SQL: $viaSql")
  }
}
