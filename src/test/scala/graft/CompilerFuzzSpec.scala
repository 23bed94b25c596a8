package graft

import graft.compile.ValidatorOptions
import graft.json._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** Differential fuzzing of the engine (the `valid` predicate plus the
  * fused error kernel, [[graft.compile.KernelCompiler]]) against the
  * independently written [[SpecOracle]]. The draft-4 suite pins
  * published cases; this spec generates RANDOM (schema, instance) pairs
  * from a grammar covering every keyword — including type-mismatched
  * operands, nested combinators, and tuple/object shapes the suite's
  * fixed cases can't exhaust — and asserts on each, in four
  * configurations (greedy and first-error mode, each evaluated once with
  * generated code and once interpreted, so both the codegen and the
  * `eval` paths of the `valid` predicate and of the kernel expression
  * are exercised):
  *
  *  1. the error records equal the oracle's exactly (order, path,
  *     keyword, message, additionalProperties), and so does `valid`;
  *  2. `valid` ≡ `errors.isEmpty` in greedy mode (the Compiled contract);
  *  3. all configurations agree on the verdict;
  *  4. an invalid verdict carries at least one error in every configuration.
  *
  * Seeded (reproducible); a failure prints the offending schema/data as
  * JSON so it can be folded into the suite as a pinned regression case.
  */
class CompilerFuzzSpec extends SparkSpec with Draft4Harness {

  private val fieldPool = Vector("a", "b", "c")

  private def jnum(d: Double): JNum = JNum(BigDecimal(d))
  private def jint(i: Long): JNum = JNum(BigDecimal(i))

  private final class Gen(seed: Long) {
    val rnd = new scala.util.Random(seed)
    def oneOf[T](xs: T*): T = xs(rnd.nextInt(xs.length))

    def scalar(): JValue = rnd.nextInt(6) match {
      case 0 => JNull
      case 1 => JBool(rnd.nextBoolean())
      case 2 => jint(rnd.nextInt(21) - 10)
      case 3 => jnum((rnd.nextInt(41) - 20) * 0.5)
      case 4 => JStr(oneOf("", "a", "ab", "abc", "b7", "aaab", "x y", "0"))
      case 5 => jint(rnd.nextInt(4))
    }

    /** Homogeneous scalar array (heterogeneous is unrepresentable). */
    def array(): JArr = {
      val n = rnd.nextInt(5)
      rnd.nextInt(3) match {
        case 0 => JArr(Vector.fill(n)(jint(rnd.nextInt(5) - 2)))
        case 1 => JArr(Vector.fill(n)(JStr(oneOf("a", "b", "ab", ""))))
        case 2 => JArr(Vector.fill(n)(jnum(rnd.nextInt(9) * 0.5)))
      }
    }

    def obj(depth: Int): JObj = JObj(
      fieldPool.filter(_ => rnd.nextBoolean()).map { f =>
        f -> (if (depth > 0 && rnd.nextInt(4) == 0) data(depth - 1)
              else scalar())
      })

    def data(depth: Int): JValue = rnd.nextInt(8) match {
      case 0 | 1 => scalar()
      case 2 | 3 => array()
      case 4 | 5 | 6 => obj(depth)
      case 7 => if (depth > 0) obj(depth) else scalar()
    }

    def schema(depth: Int): JObj = {
      val kws = Vector.newBuilder[(String, JValue)]
      val nKw = 1 + rnd.nextInt(3)
      (0 until nKw).foreach { _ =>
        rnd.nextInt(19) match {
          case 0 =>
            kws += "type" -> (if (rnd.nextBoolean())
              JStr(oneOf("string", "number", "integer", "boolean", "array",
                "object", "null", "any"))
            else JArr(Vector(JStr(oneOf("string", "integer")),
              JStr(oneOf("object", "null", "array")))))
          case 1 =>
            kws += oneOf("minimum", "maximum") -> jnum(rnd.nextInt(9) - 4)
            if (rnd.nextBoolean())
              kws += oneOf("exclusiveMinimum", "exclusiveMaximum") ->
                JBool(true)
          case 2 => kws += "multipleOf" -> oneOf(jnum(0.5), jint(2), jint(3),
            jnum(0.01))
          case 3 => kws += oneOf("minLength", "maxLength") -> jint(rnd.nextInt(4))
          case 4 => kws += "pattern" -> JStr(oneOf("^a", "b$", "[0-9]+", "a+b"))
          case 5 => kws += "enum" -> JArr(Vector.fill(1 + rnd.nextInt(3))(
            if (rnd.nextInt(4) == 0) array() else scalar()))
          case 6 => kws += "required" -> JArr(
            fieldPool.filter(_ => rnd.nextBoolean()).map(JStr(_)))
          case 7 if depth > 0 =>
            kws += "properties" -> JObj(
              fieldPool.filter(_ => rnd.nextBoolean())
                .map(f => f -> (schema(depth - 1): JValue)))
          case 8 if depth > 0 =>
            kws += "items" -> (if (rnd.nextBoolean()) schema(depth - 1)
              else JArr(Vector.fill(1 + rnd.nextInt(2))(schema(depth - 1))))
            if (rnd.nextBoolean())
              kws += "additionalItems" -> (if (rnd.nextBoolean()) JBool(false)
                else schema(depth - 1))
          case 9 => kws += oneOf("minItems", "maxItems") -> jint(rnd.nextInt(4))
          case 10 => kws += "uniqueItems" -> JBool(true)
          case 11 => kws += oneOf("minProperties", "maxProperties") ->
            jint(rnd.nextInt(3))
          case 12 =>
            kws += "dependencies" -> JObj(Vector(
              oneOf(fieldPool: _*) -> (if (depth > 0 && rnd.nextBoolean())
                schema(depth - 1)
              else JArr(Vector(JStr(oneOf(fieldPool: _*)))))))
          case 13 if depth > 0 =>
            kws += oneOf("allOf", "anyOf", "oneOf") ->
              JArr(Vector.fill(1 + rnd.nextInt(2))(schema(depth - 1)))
          case 14 if depth > 0 => kws += "not" -> schema(depth - 1)
          case 16 if depth > 0 =>
            kws += "patternProperties" -> JObj(
              Vector(oneOf("^a", "[bc]", "c$")).map(p =>
                p -> (schema(depth - 1): JValue)))
            if (rnd.nextBoolean())
              kws += "additionalProperties" -> (if (rnd.nextBoolean())
                JBool(false) else schema(depth - 1))
          case 17 if depth > 0 =>
            kws += "additionalProperties" -> (if (rnd.nextBoolean())
              JBool(false) else schema(depth - 1))
          case 18 if depth == 2 =>
            // definitions + an internal $ref — ROOT level only: JSON
            // Pointers resolve from the document root, so a nested
            // subschema carrying "#/definitions/d0" would (correctly)
            // fail resolution against the root document
            kws += "definitions" -> JObj(Vector(
              "d0" -> (schema(depth - 1): JValue)))
            kws += "$ref" -> JStr("#/definitions/d0")
          case _ => kws += "minimum" -> jint(rnd.nextInt(5) - 2)
        }
      }
      // de-dup keys (keyword repeats keep the FIRST occurrence, like a
      // parsed JSON object in this engine's VectorMap-backed JObj)
      JObj(kws.result().foldLeft(Vector.empty[(String, JValue)]) {
        case (acc, kv) if acc.exists(_._1 == kv._1) => acc
        case (acc, kv) => acc :+ kv
      })
    }
  }

  /** Runs `cols` over `df` with generated code (`codegen`) or with
    * interpreted evaluation only. */
  private def headRow(df: org.apache.spark.sql.DataFrame,
                      cols: Seq[org.apache.spark.sql.Column], codegen: Boolean): Row = {
    spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    spark.conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    try df.select(cols: _*).head()
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("differential fuzz: 400 random (schema, instance) pairs, 4 configs each") {
    val gen = new Gen(0x5eed5eedL)
    var ran = 0
    var rerolls = 0
    while (ran < 400 && rerolls < 2000) {
      val schema = gen.schema(2)
      val data = gen.data(2)
      val dt =
        try inferType(data)
        catch { case _: Draft4Harness.Unrepresentable => rerolls += 1; null }
      if (dt != null) {
        val df = valueDf(toValue(data, dt), dt)
        val specJson = Json.render(schema)
        val modes = Seq(true, false)
        val cols = col("x") +: modes.zipWithIndex.flatMap { case (greedy, i) =>
          val (v, e) = Validator(specJson, ValidatorOptions(greedy = greedy))
            .forValue(df.col("x"), dt)
          Seq(v.as(s"v$i"), e.as(s"e$i"))
        }
        val rows = Seq(true, false).map(codegen => headRow(df, cols, codegen))
        // configuration c: greedy = modes(c % 2), codegen = c < 2
        val configs = for (r <- rows.indices; m <- modes.indices) yield (r, m)
        def name(c: Int) = {
          val (r, m) = configs(c)
          s"${if (modes(m)) "greedy" else "first"}/${if (r == 0) "codegen" else "interpreted"}"
        }
        def valid(c: Int) = { val (r, m) = configs(c); rows(r).getBoolean(2 * m + 1) }
        def errs(c: Int) = { val (r, m) = configs(c)
          rows(r).getSeq[Row](2 * m + 2)
            .map(e => (e.getString(0), e.getString(1), e.getString(2), e.getString(3))) }
        val instance = SpecOracle.decode(rows(0).get(0), dt)
        val ctx = s"schema=$specJson\ndata=${Json.render(data)}"
        val expected = modes.map(greedy => SpecOracle.validate(schema, instance, greedy))
        // 1. exact records and verdict against the oracle, per configuration
        configs.indices.foreach { c =>
          val (expValid, expErrs) = expected(configs(c)._2)
          assert(valid(c) == expValid && errs(c) == expErrs.map(_.tuple),
            s"${name(c)} diverges from the oracle:\n" +
              s"  got    ${valid(c)} ${errs(c)}\n  oracle $expValid ${expErrs.map(_.tuple)}\n$ctx")
        }
        // 2. valid == errors.isEmpty (greedy); 3. configs agree on verdict
        configs.indices.filter(c => modes(configs(c)._2)).foreach(c =>
          assert(valid(c) == errs(c).isEmpty,
            s"${name(c)} valid/errors contradict: ${valid(c)} ${errs(c)}\n$ctx"))
        assert(configs.indices.forall(c => valid(c) == valid(0)),
          s"configs disagree on verdict\n$ctx")
        // 4. invalid => at least one error in every configuration
        if (!valid(0))
          configs.indices.foreach(c => assert(errs(c).nonEmpty,
            s"invalid with empty errors in ${name(c)}\n$ctx"))
        ran += 1
      }
    }
    info(s"fuzzed $ran pairs x 4 configs ($rerolls unrepresentable rerolls)")
    assert(ran == 400, s"only $ran pairs ran")
  }
}
