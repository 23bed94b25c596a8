package graft

import graft.checks._
import graft.data.TokenTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

/** χ² and PSI drift against a driver-side term-for-term sum over the
  * union of observed and reference keys, and the plan shape: the input's
  * (part, key) histogram is shuffled once and never meets a
  * parts × reference frame in a shuffled join. */
class DriftParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Per part, Σ over the union of keys of term(o, n, p). Verdict parts:
    * the parts with an observed key, plus the universe when the
    * reference is non-empty. */
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
    // an injected universe with a part (9) that has no rows
    val universe = Seq(0, 1, 2, 9)
    assertParity(
      metrics(chi2(refDf).withPartsUniverse(universe.toDF("part")).run(obsDf).verdicts),
      expected(observedKeys, refKeys, universe, chi2Term), "chi2 universe")
    assertParity(metrics(chi2(refDf).withKnownParts(universe).run(obsDf).verdicts),
      expected(observedKeys, refKeys, universe, chi2Term), "chi2 known parts")
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
    val universe = Seq(0, 1, 2, 9)
    assertParity(
      metrics(psi(ref).withPartsUniverse(universe.toDF("part")).run(obs).verdicts),
      expected(obsBins, refBins, universe, psiTerm(eps)), "psi universe")
  }

  /** Shuffle exchanges hash-partitioned on exactly (part, key). */
  def histogramExchanges(plan: SparkPlan): (Int, Int) = {
    def onPartKey(p: SparkPlan): Boolean = p.outputPartitioning match {
      case HashPartitioning(es, _) =>
        es.collect { case a: Attribute => a.name } == Seq("part", "key")
      case _ => false
    }
    val fresh = collect(plan) { case e: ShuffleExchangeExec if onPartKey(e) => e }
    val reused = collect(plan) { case e: ReusedExchangeExec if onPartKey(e.child) => e }
    (fresh.size, reused.size)
  }

  test("plan: one (part, key) histogram exchange, no shuffled join against the reference") {
    for ((label, verdicts) <- Seq(
        "chi2" -> chi2(refDf).withPartsUniverse(Seq(0, 1, 2, 9).toDF("part"))
          .run(obsDf).verdicts,
        "psi" -> PsiDriftCheck("cat", refDf).run(obsDf).verdicts)) {
      verdicts.collect()
      val plan = verdicts.queryExecution.executedPlan
      val (fresh, reused) = histogramExchanges(plan)
      assert(fresh == 1, s"$label: $fresh (part, key) exchanges, want 1:\n$plan")
      assert(reused >= 1, s"$label: histogram exchange not reused:\n$plan")
      val shuffledJoins = collect(plan) {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(shuffledJoins.isEmpty, s"$label: shuffled join in the plan:\n$plan")
    }
  }
}
