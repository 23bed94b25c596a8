package graft

import graft.json._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}

/** Property-based cross-check (FIXTURES.md §6): randomly generated
  * constraint specs × randomly generated typed rows, the engine's
  * `valid` and exact error records (order, path, keyword, message,
  * additionalProperties) compared to the interpreted SpecOracle in
  * greedy and first-error mode. Batched: one Spark job per spec
  * evaluates all of its sample rows in both modes. */
class PropertySpec extends SparkSpec {

  // ---- test row schema ----
  val rowSchema: StructType = StructType(Seq(
    StructField("a", IntegerType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("arr", ArrayType(IntegerType, containsNull = true)),
    StructField("nested", StructType(Seq(
      StructField("b", IntegerType), StructField("t", StringType))))))

  // ---- value generators ----
  val genInt: Gen[Any] = Gen.oneOf(Gen.const(null), Gen.choose(-6, 6))
  val genDouble: Gen[Any] = Gen.oneOf(Gen.const(null),
    Gen.oneOf(-2.5, -1.0, 0.0, 0.5, 1.0, 1.5, 2.0, 3.0, 18.15, 4.0))
  val genStr: Gen[Any] = Gen.oneOf(Gen.const(null),
    Gen.oneOf("", "a", "ab", "abc", "ba", "1", "aXa", "bbb", "a b"))
  val genArr: Gen[Any] = Gen.oneOf(Gen.const(null),
    Gen.listOfN(3, Gen.oneOf(Gen.const(null), Gen.choose(-3, 5)))
      .flatMap(l => Gen.choose(0, 3).map(n => l.take(n))))
  val genNested: Gen[Any] = Gen.oneOf(Gen.const(null),
    for { b <- genInt; t <- genStr } yield Row(b, t))
  val genRow: Gen[Row] =
    for { a <- genInt; d <- genDouble; s <- genStr; arr <- genArr; n <- genNested }
      yield Row(a, d, s, arr match { case l: List[_] => l; case x => x }, n)

  // ---- spec generators (JSON text fragments) ----
  def js(fields: Seq[String]): String = fields.mkString("{", ",", "}")

  val genIntLeaf: Gen[String] = for {
    t <- Gen.oneOf("", "\"type\":\"integer\"", "\"type\":\"number\"",
      "\"type\":[\"integer\",\"null\"]", "\"type\":\"string\"")
    mn <- Gen.oneOf("", "\"minimum\":-2", "\"minimum\":0",
      "\"minimum\":1,\"exclusiveMinimum\":true")
    mx <- Gen.oneOf("", "\"maximum\":3", "\"maximum\":0,\"exclusiveMaximum\":true")
    mo <- Gen.oneOf("", "\"multipleOf\":2", "\"multipleOf\":0.5")
    en <- Gen.oneOf("", "\"enum\":[1,2,3]", "\"enum\":[0,null]")
  } yield js(Seq(t, mn, mx, mo, en).filter(_.nonEmpty))

  val genStrLeaf: Gen[String] = for {
    t <- Gen.oneOf("", "\"type\":\"string\"")
    ln <- Gen.oneOf("", "\"minLength\":1", "\"minLength\":2,\"maxLength\":3")
    p <- Gen.oneOf("", "\"pattern\":\"^a\"", "\"pattern\":\"b$\"",
      "\"pattern\":\"\\\\d\"", "\"pattern\":\"[ab]+\"")
    en <- Gen.oneOf("", "\"enum\":[\"a\",\"ab\"]")
  } yield js(Seq(t, ln, p, en).filter(_.nonEmpty))

  val genArrLeaf: Gen[String] = for {
    t <- Gen.oneOf("", "\"type\":\"array\"")
    ni <- Gen.oneOf("", "\"minItems\":1", "\"maxItems\":2")
    u <- Gen.oneOf("", "\"uniqueItems\":true")
    it <- genIntLeaf.flatMap(leaf => Gen.oneOf("", s""""items":$leaf""",
      s""""items":[$leaf],"additionalItems":false"""))
  } yield js(Seq(t, ni, u, it).filter(_.nonEmpty))

  val genNestedLeaf: Gen[String] = for {
    bSpec <- genIntLeaf
    tSpec <- genStrLeaf
    props <- Gen.oneOf("",
      s""""properties":{"b":$bSpec,"t":$tSpec}""")
    req <- Gen.oneOf("", "\"required\":[\"b\"]", "\"required\":[\"b\",\"t\"]")
    mp <- Gen.oneOf("", "\"minProperties\":1", "\"maxProperties\":1")
    ap <- Gen.oneOf("", "\"additionalProperties\":false")
    dep <- Gen.oneOf("", "\"dependencies\":{\"b\":[\"t\"]}")
  } yield js(Seq(props, req, mp, ap, dep).filter(_.nonEmpty))

  val genRootSimple: Gen[String] = for {
    aSpec <- genIntLeaf
    dSpec <- genIntLeaf
    sSpec <- genStrLeaf
    arrSpec <- genArrLeaf
    nSpec <- genNestedLeaf
    req <- Gen.oneOf("", "\"required\":[\"a\"]", "\"required\":[\"s\",\"arr\"]",
      "\"required\":[\"nested\"]")
  } yield js(Seq(
    s""""properties":{"a":$aSpec,"d":$dSpec,"s":$sSpec,"arr":$arrSpec,"nested":$nSpec}""",
    req).filter(_.nonEmpty))

  val genRoot: Gen[String] = Gen.frequency(
    (3, genRootSimple),
    (1, for { x <- genRootSimple; y <- genRootSimple }
      yield js(Seq(s""""allOf":[$x,$y]"""))),
    (1, for { x <- genRootSimple; y <- genRootSimple }
      yield js(Seq(s""""anyOf":[$x,$y]"""))),
    (1, for { x <- genRootSimple; y <- genRootSimple }
      yield js(Seq(s""""oneOf":[$x,$y]"""))),
    (1, genRootSimple.map(x => js(Seq(s""""not":$x""")))))

  /** The instance a collected row carries (missing ≡ NULL for struct
    * fields; array elements keep present nulls). */
  def rowToInstance(r: Row): JValue = SpecOracle.decode(r, rowSchema)

  test("compiled validator agrees with interpreted oracle on random specs × rows") {
    val seed0 = rng.Seed(42L)
    var seed = seed0
    def sample[A](g: Gen[A]): A = {
      val (res, next) = (g.pureApply(Gen.Parameters.default, seed), seed.next)
      seed = next
      res
    }

    var specCount = 0
    var caseCount = 0
    while (specCount < 30) {
      val specJson = sample(genRoot)
      val rows = (0 until 24).map(_ => sample(genRow))
      val spec = Json.parse(specJson)

      val df = spark.createDataFrame(
        new java.util.ArrayList[Row](rows.map(Row(_)).asJavaLike), StructType(Seq(
          StructField("x", rowSchema))))
      val modes = Seq(true, false)
      val cols = modes.flatMap { greedy =>
        val (v, e) = Validator(specJson, compile.ValidatorOptions(greedy = greedy))
          .forValue(df.col("x"), rowSchema)
        Seq(v, e)
      }
      val got = df.select(df.col("x") +: cols: _*).collect()

      got.foreach { res =>
        val instance = rowToInstance(res.getStruct(0))
        modes.zipWithIndex.foreach { case (greedy, i) =>
          val (expValid, expErrs) = SpecOracle.validate(spec, instance, greedy)
          val gotValid = res.getBoolean(2 * i + 1)
          val gotErrs = res.getSeq[Row](2 * i + 2)
            .map(e => (e.getString(0), e.getString(1), e.getString(2), e.getString(3)))
          assert(gotValid == expValid && gotErrs == expErrs.map(_.tuple),
            s"""DISAGREEMENT (${if (greedy) "greedy" else "first-error"})
               |spec:     $specJson
               |instance: ${Json.render(instance)}
               |compiled: valid=$gotValid errs=$gotErrs
               |oracle:   valid=$expValid errs=${expErrs.map(_.tuple)}""".stripMargin)
        }
        caseCount += 1
      }
      specCount += 1
    }
    info(s"checked $specCount specs × ${caseCount / specCount} rows = $caseCount cases, 2 modes each")
  }

  implicit class SeqOps(s: Seq[Row]) {
    def asJavaLike: java.util.List[Row] = {
      val l = new java.util.ArrayList[Row]()
      s.foreach(l.add)
      l
    }
  }
}
