package graft

import graft.checks._
import graft.data.TokenTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

/** Drift checks against driver-side statistics: χ² and PSI against a
  * term-for-term sum over the union of observed and reference keys (to
  * 1e-9 relative), KS against an exact two-sample D (bit-identical); and
  * the plan shape: each check shuffles its input once, on `part` alone. */
class DriftParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Per part, Σ over the union of keys of term(o, n, p). Verdict parts:
    * the parts with an observed key, plus every input part (`universe`)
    * when the reference is non-empty. */
  def expected(obs: Seq[(Int, Any)], ref: Seq[Any], universe: Seq[Int],
               term: (Double, Double, Double) => Double): Map[Int, Double] = {
    val refCounts = ref.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val refTotal = math.max(ref.size.toDouble, 1.0)
    val byPart = obs.groupBy(_._1).view.mapValues(
      _.groupBy(_._2).view.mapValues(_.size.toDouble).toMap).toMap
    val parts = byPart.keySet ++ (if (ref.nonEmpty) universe.toSet else Set.empty[Int])
    parts.map { part =>
      val counts = byPart.getOrElse(part, Map.empty[Any, Double])
      val n = counts.values.sum
      val keys = counts.keySet ++ refCounts.keySet
      part -> keys.toSeq.map(k => term(counts.getOrElse(k, 0.0), n,
        refCounts.getOrElse(k, 0.0) / refTotal)).sum
    }.toMap
  }

  def chi2Term(o: Double, n: Double, p: Double): Double =
    math.pow(o - p * n, 2) / math.max(p * n, 0.5)

  def psiTerm(eps: Double)(o: Double, n: Double, p: Double): Double = {
    val q = math.max(o / math.max(n, 1.0), eps)
    val r = math.max(p, eps)
    (q - r) * math.log(q / r)
  }

  def metrics(verdicts: DataFrame): Map[Int, Double] =
    verdicts.select("part", "metric_value").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap

  def assertParity(got: Map[Int, Double], want: Map[Int, Double], label: String): Unit = {
    assert(got.keySet == want.keySet, s"$label: verdict parts ${got.keySet} != ${want.keySet}")
    want.foreach { case (part, w) =>
      val g = got(part)
      assert(math.abs(g - w) <= 1e-9 * math.max(math.abs(w), 1e-9),
        s"$label: part $part metric $g != term-for-term $w")
    }
  }

  // part 0: keys only in the observation (x) and a reference-only key (y)
  // whose expected count p·n = 0.1 sits under the 0.5 floor; part 1: a
  // larger part; part 2: every key NULL (n = 0)
  val obsRows: Seq[(Int, String)] =
    Seq.fill(5)(0 -> "a") ++ Seq.fill(3)(0 -> "b") ++ Seq.fill(2)(0 -> "x") ++
      Seq.fill(1)(1 -> "a") ++ Seq.fill(10)(1 -> "b") ++ Seq.fill(4)(1 -> "c") ++
      Seq.fill(3)(2 -> null)
  val refRows: Seq[String] =
    Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(19)("c") ++ Seq("y", null)

  lazy val obsDf: DataFrame = obsRows.toDF("part", "cat")
  lazy val refDf: DataFrame = refRows.toDF("cat")
  val observedKeys: Seq[(Int, Any)] = obsRows.filter(_._2 != null)
  val refKeys: Seq[Any] = refRows.filter(_ != null)

  def chi2(ref: DataFrame): Chi2DriftCheck =
    Chi2DriftCheck("cat", col("cat"), ref, col("cat"), threshold = 10.0)

  test("chi2 equals the term-for-term sum: one-sided keys, NULL part, floor, empty reference") {
    assertParity(metrics(chi2(refDf).run(obsDf).verdicts),
      expected(observedKeys, refKeys, Seq(0, 1, 2), chi2Term), "chi2")
    // an empty reference: only the observed parts get verdicts
    assertParity(metrics(chi2(refDf.where(lit(false))).run(obsDf).verdicts),
      expected(observedKeys, Nil, Seq(0, 1, 2), chi2Term), "chi2 empty reference")
  }

  test("chi2 equals the term-for-term sum on bucketed token histograms") {
    val cfg = TokenTable.Config(rows = 600L, parts = 4, maxLen = 24)
    val table = TokenTable.generate(spark, cfg)
    val ref = TokenTable.generate(spark, cfg.copy(seed = 7L))
    val bucket = 97
    def tokens(df: DataFrame): Seq[(Int, Int)] =
      df.select("part", "tokens").collect().toSeq.flatMap { r =>
        val part = r.getInt(0)
        Option(r.getSeq[Int](1)).toSeq.flatten.map(t => part -> t % bucket)
      }
    val check = Chi2DriftCheck("tokens", explode(col("tokens")), ref,
      explode(col("tokens")), threshold = 1e6, keyTransform = _ % bucket)
    for ((label, obs) <- Seq("same" -> table,
        "perturbed" -> table.withColumn("tokens", transform(col("tokens"), t => t % 3)))) {
      assertParity(metrics(check.run(obs).verdicts),
        expected(tokens(obs), tokens(ref).map(_._2), Seq(0, 1, 2, 3), chi2Term),
        s"chi2 tokens $label")
    }
  }

  test("PSI equals the term-for-term sum: one-sided bins, NULL part, empty reference") {
    val eps = 1e-6
    // bins of 10: obs-only bin 9 in part 0, ref-only bin 5, part 2 all NULL
    val obs = Seq(0 -> Some(1), 0 -> Some(12), 0 -> Some(15), 0 -> Some(95),
      1 -> Some(3), 1 -> Some(4), 1 -> Some(27), 1 -> Some(22), 1 -> Some(11),
      2 -> None, 2 -> None).toDF("part", "v")
    val refVals = Seq(2, 7, 13, 14, 18, 25, 51, 55).map(Some(_)) :+ None
    val ref = refVals.toDF("v")
    val bin: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => floor(c / lit(10)).cast("long")
    val obsBins = obs.collect().toSeq.filter(!_.isNullAt(1))
      .map(r => r.getInt(0) -> (r.getInt(1) / 10).toLong)
    val refBins = refVals.flatten.map(v => (v / 10).toLong)
    def psi(r: DataFrame) = PsiDriftCheck("v", r, bin = bin, epsilon = eps)
    assertParity(metrics(psi(ref).run(obs).verdicts),
      expected(obsBins, refBins, Seq(0, 1, 2), psiTerm(eps)), "psi")
    assertParity(metrics(psi(ref.where(lit(false))).run(obs).verdicts),
      expected(obsBins, Nil, Seq(0, 1, 2), psiTerm(eps)), "psi empty reference")
  }

  /** Doubles as grouping keys the way Spark groups them: −0.0 is 0.0 and
    * every NaN is one key, ordered after +∞. */
  def doubleKey(d: Double): Long = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
  val doubleKeyOrdering: Ordering[Long] = Ordering.fromLessThan[Long]((a, b) =>
    java.lang.Double.compare(java.lang.Double.longBitsToDouble(a),
      java.lang.Double.longBitsToDouble(b)) < 0)

  test("chi2 and PSI term-for-term parity: string keys, doubles with -0.0 and NaN") {
    val eps = 1e-6
    def check(label: String, obs: DataFrame, ref: DataFrame,
              obsKeys: Seq[(Int, Any)], refKeys: Seq[Any]): Unit = {
      val universe = Seq(0, 1, 2) // both inputs' parts
      val chi = Chi2DriftCheck("k", col("k"), ref, col("k"), threshold = 10.0)
      assertParity(metrics(chi.run(obs).verdicts),
        expected(obsKeys, refKeys, universe, chi2Term), s"chi2 $label")
      val psi = PsiDriftCheck("k", ref, epsilon = eps)
      assertParity(metrics(psi.run(obs).verdicts),
        expected(obsKeys, refKeys, universe, psiTerm(eps)), s"psi $label")
    }
    // the categorical frames above: string keys
    check("strings", obsDf.withColumnRenamed("cat", "k"), refDf.withColumnRenamed("cat", "k"),
      observedKeys, refKeys)
    val obsD = Seq(0 -> -0.0, 0 -> 0.0, 0 -> Double.NaN, 0 -> 1.5, 1 -> Double.NaN,
      1 -> Double.NaN, 1 -> -2.0, 1 -> 0.0, 2 -> 3.0)
    val refD = Seq(0.0, 0.0, -0.0, Double.NaN, 1.5, -2.0, 7.0)
    check("doubles", obsD.toDF("part", "k"), refD.toDF("k"),
      obsD.map { case (p, d) => p -> doubleKey(d) }, refD.map(doubleKey))
  }

  /** Per part, the exact two-sample KS distance: CDFs `cum / max(total, 1)`
    * on long counts, over the sorted union of keys. Verdict parts as in
    * [[expected]]. */
  def expectedKs[K](obs: Seq[(Int, K)], ref: Seq[K], universe: Seq[Int])(
      implicit ord: Ordering[K]): Map[Int, Double] = {
    val refCounts = ref.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byPart = obs.groupBy(_._1).view.mapValues(
      _.groupBy(_._2).view.mapValues(_.size.toLong).toMap).toMap
    val parts = byPart.keySet ++ (if (ref.nonEmpty) universe.toSet else Set.empty[Int])
    parts.map { part =>
      val counts = byPart.getOrElse(part, Map.empty[K, Long])
      val oTotal = math.max(counts.values.sum, 1L).toDouble
      val rTotal = math.max(ref.size.toLong, 1L).toDouble
      var (cumO, cumR, d) = (0L, 0L, 0.0)
      (counts.keySet ++ refCounts.keySet).toSeq.sorted.foreach { k =>
        cumO += counts.getOrElse(k, 0L)
        cumR += refCounts.getOrElse(k, 0L)
        d = math.max(d, math.abs(cumO.toDouble / oTotal - cumR.toDouble / rTotal))
      }
      part -> d
    }.toMap
  }

  test("KS equals an exact two-sample D: empty part, all-NULL part, empty ref, ties") {
    // heavy ties on both sides; part 2 is all NULL
    val obsRows = Seq(0 -> Some(1), 0 -> Some(1), 0 -> Some(2), 0 -> Some(5), 0 -> Some(5),
      1 -> Some(3), 1 -> Some(3), 1 -> Some(3), 1 -> Some(9), 2 -> None, 2 -> None)
    val refVals = Seq(1, 2, 2, 3, 4, 5, 5, 5, 7)
    val obs = obsRows.toDF("part", "v")
    val ref = refVals.toDF("v")
    val obsKeys = obsRows.collect { case (p, Some(v)) => p -> v }
    val got = metrics(KsDriftCheck("v", ref).run(obs).verdicts)
    assert(got == expectedKs(obsKeys, refVals, Seq(0, 1, 2)))
    assert(got(2) == 1.0, s"a part without values must read D = 1: $got")
    assert(metrics(KsDriftCheck("v", ref.where(lit(false))).run(obs).verdicts) ==
      expectedKs(obsKeys, Nil, Seq(0, 1, 2)))
  }

  test("KS equals an exact two-sample D on double bins with -0.0, 0.0 and NaN") {
    val obsRows = Seq(0 -> -0.0, 0 -> 0.0, 0 -> Double.NaN, 0 -> -1.5, 0 -> 2.0,
      1 -> Double.NaN, 1 -> Double.NaN, 1 -> Double.NegativeInfinity, 1 -> 0.0)
    val refVals = Seq(0.0, -0.0, -0.0, Double.NaN, -1.5, 2.0, 2.0, Double.PositiveInfinity)
    val got = metrics(KsDriftCheck("v", refVals.toDF("v")).run(obsRows.toDF("part", "v")).verdicts)
    assert(got == expectedKs(obsRows.map { case (p, d) => p -> doubleKey(d) },
      refVals.map(doubleKey), Seq(0, 1))(doubleKeyOrdering))
  }

  test("KS equals an exact two-sample D on decimal bins") {
    def dec(s: String) = BigDecimal(s)
    val obsRows = Seq(0 -> "12345.67", 0 -> "19999.99", 0 -> "20000.00", 0 -> "-5.25",
      1 -> "150000.10", 1 -> "1.00", 1 -> "15000.00")
    val refVals = Seq("10000.00", "25000.50", "-20000.00", "99999.99", "150001.00")
    def frame(rows: Seq[(Int, String)]) = rows.toDF("part", "s")
      .select(col("part"), col("s").cast("decimal(15,2)").as("v"))
    val obs = frame(obsRows)
    val ref = frame(refVals.map(0 -> _)).drop("part")
    // the q_drift_ks shape: floor(price / 10000), a narrow decimal
    val floorBin = (s: String) => (dec(s) / 10000).setScale(0, BigDecimal.RoundingMode.FLOOR)
    assert(metrics(KsDriftCheck("v", ref, bin = c => floor(c / 10000)).run(obs).verdicts) ==
      expectedKs(obsRows.map { case (p, s) => p -> floorBin(s) }, refVals.map(floorBin), Seq(0, 1)))
    // a decimal wider than a long, keyed as-is
    val wide = (df: DataFrame) => df.withColumn("v", col("v").cast("decimal(30,2)"))
    assert(metrics(KsDriftCheck("v", wide(ref)).run(wide(obs)).verdicts) ==
      expectedKs(obsRows.map { case (p, s) => p -> dec(s) }, refVals.map(dec), Seq(0, 1)))
  }

  test("KS drops NULL parts; KS and PSI skip NULL bins") {
    val obs = Seq[(Integer, Int)]((null, 1), (null, 1), (null, 1), (0, 1), (0, 2), (0, 4))
      .toDF("part", "v")
    val ref = Seq(1, 2, 3).toDF("v")
    val verdicts = KsDriftCheck("v", ref).run(obs).verdicts
    assert(verdicts.where(col("part").isNull).count() == 0,
      s"KS verdict for part NULL: ${verdicts.collect().toSeq}")
    assert(metrics(verdicts) == expectedKs(Seq(0 -> 1, 0 -> 2, 0 -> 4), Seq(1, 2, 3), Seq(0)))
    // the bin maps 2 to NULL: that key is skipped on both sides
    val bin = (c: org.apache.spark.sql.Column) => when(c =!= 2, c)
    assert(metrics(KsDriftCheck("v", ref, bin = bin).run(obs).verdicts) ==
      expectedKs(Seq(0 -> 1, 0 -> 4), Seq(1, 3), Seq(0)))
    val eps = 1e-6
    assertParity(metrics(PsiDriftCheck("v", ref, bin = bin, epsilon = eps).run(obs).verdicts),
      expected(Seq(0 -> 1, 0 -> 4), Seq(1, 3), Seq(0), psiTerm(eps)), "psi NULL bins")
  }

  test("plan: each drift check shuffles its input once, on part alone") {
    val input = spark.range(0, 60).select((col("id") % 4).cast("int").as("part"),
      concat(lit("c"), (col("id") % 5).cast("string")).as("cat"), (col("id") % 7).as("v"))
    val ref = Seq("c1" -> 1, "c1" -> 2, "c2" -> 2, "c9" -> 11).toDF("cat", "v")
    val checks = Seq[Check](
      Chi2DriftCheck("cat", col("cat"), ref, col("cat"), threshold = 10.0),
      PsiDriftCheck("v", ref),
      KsDriftCheck("v", ref))
    for (check <- checks) {
      val label = check.name
      val verdicts = check.run(input).verdicts
      verdicts.collect()
      val plan = verdicts.queryExecution.executedPlan
      val inputShuffles = collect(plan) {
        case e: ShuffleExchangeExec if find(e.child)(_.isInstanceOf[RangeExec]).isDefined => e
      }
      assert(inputShuffles.size == 1, s"$label: ${inputShuffles.size} input shuffles, want 1:\n$plan")
      val keys = inputShuffles.head.outputPartitioning match {
        case HashPartitioning(es, _) => es.map {
          case a: Attribute => a.name
          case e => e.sql
        }
        case other => Seq(other.toString)
      }
      assert(keys == Seq("part"), s"$label: input shuffled on $keys:\n$plan")
      assert(collect(plan) { case w: WindowExec => w }.isEmpty, s"$label: window in the plan:\n$plan")
      val shuffledJoins = collect(plan) {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(shuffledJoins.isEmpty, s"$label: shuffled join in the plan:\n$plan")
    }
  }
}
