package graft

import graft.compile.ValidatorOptions
import graft.data.TokenTable
import graft.json.Json
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The error kernel's exact records — order, paths, keywords, messages,
  * additionalProperties — and the `valid` column, in both greedy and
  * first-error modes: against the independently written [[SpecOracle]]
  * for JSON-representable data (token table, combinators, nested arrays,
  * enums, decimals, open maps), and against explicit expected records for
  * values with no JSON form (dates, timestamps, binary, NaN, Spark's
  * string rendering of nested values). The explicit records are the ones
  * the engine produced while its v1 Column-tree error path still existed
  * and matched the kernel record for record. */
class KernelParitySpec extends SparkSpec {

  private type Rec = (String, String, String, String)

  /** (input row, valid, errors) per row of `df`, with the kernel engaged. */
  private def validate(specJson: String, df: DataFrame, greedy: Boolean,
                       formats: Map[String, Either[String, Column => Column]] = Map.empty)
      : Seq[(Row, Boolean, Seq[Rec])] = {
    val v = Validator(specJson, ValidatorOptions(greedy = greedy, formats = formats))
    val engaged = ColumnBridge.expression(v.errors(df.schema)).toString
    assert(engaged.contains("graft_validate_errors"),
      s"kernel did not engage for spec=$specJson (greedy=$greedy)")
    v.withValidation(df)
      .select(struct(df.columns.toSeq.map(c => df.col(s"`$c`")): _*), col("valid"), col("errors"))
      .collect().toSeq.map(r => (r.getStruct(0), r.getBoolean(1), r.getSeq[Row](2)
        .map(e => (e.getString(0), e.getString(1), e.getString(2), e.getString(3)))))
  }

  /** Both modes against [[SpecOracle]] on the instance each row decodes to. */
  private def vsOracle(specJson: String, df: DataFrame,
                       formats: Map[String, String] = Map.empty): Unit = {
    val spec = Json.parse(specJson)
    for (greedy <- Seq(true, false)) {
      validate(specJson, df, greedy, formats.map { case (k, re) => k -> Left(re) })
        .zipWithIndex.foreach { case ((row, valid, errs), i) =>
          val instance = SpecOracle.decode(row, df.schema)
          val (expValid, expErrs) = SpecOracle.validate(spec, instance, greedy, formats)
          assert(valid == expValid && errs == expErrs.map(_.tuple),
            s"row $i (greedy=$greedy) ${Json.render(instance)}:\n" +
              s"  kernel $valid $errs\n  oracle $expValid ${expErrs.map(_.tuple)}")
        }
    }
  }

  /** Both modes against explicit records: `expected(i)` lists row i's
    * greedy records; first-error mode keeps the first. */
  private def vsExpected(specJson: String, df: DataFrame,
                         formats: Map[String, Either[String, Column => Column]])(
                         expected: Int => Seq[Rec]): Unit =
    for (greedy <- Seq(true, false)) {
      validate(specJson, df, greedy, formats).zipWithIndex.foreach { case ((row, valid, errs), i) =>
        val want = if (greedy) expected(i) else expected(i).take(1)
        assert(valid == want.isEmpty && errs == want,
          s"row $i (greedy=$greedy) $row:\n  got  $valid $errs\n  want $want")
      }
    }

  private def formatErr(path: String): Rec = (path, "format", null, null)

  test("token table: flagship spec, byte-identical errors in both modes") {
    val cfg = TokenTable.Config(rows = 6000L, parts = 4, maxLen = 24)
    val table = TokenTable.generate(spark, cfg)
    vsOracle(TokenTable.constraintSpec(cfg.vocabSize), table)
  }

  test("combinator rollback arithmetic") {
    val df = spark.range(200).select(
      col("id"),
      (col("id") % 97).cast("double").as("price"),
      (col("id") % 13).cast("int").as("bucket"))
    vsOracle(
      """{"properties":{
           "price":{"anyOf":[{"maximum":20},{"minimum":70}]},
           "bucket":{"oneOf":[{"maximum":4},{"minimum":2}]},
           "id":{"not":{"multipleOf":7}}}}""",
      df)
  }

  test("nested arrays, tuple items, messages, additionalProperties keys") {
    val schema = StructType(Seq(
      StructField("xs", ArrayType(IntegerType), nullable = true),
      StructField("pair", ArrayType(IntegerType), nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("rogue", StringType, nullable = true)))
    val rows = java.util.Arrays.asList(
      Row(Seq(1, 2, 3), Seq(1, 2), "ok", null),
      Row(Seq(-5, 200), Seq(9, 9, 9), "x", "extra"),
      Row(null, null, null, "boo"),
      Row(Seq[Int](), Seq(0), "toolongname!", "y"))
    val df = spark.createDataFrame(rows, schema)
    vsOracle(
      """{"required":["name"],
          "properties":{
            "xs":{"type":"array","minItems":1,
                  "items":{"minimum":0,"maximum":99},
                  "invalidMessage":"bad xs"},
            "pair":{"items":[{"minimum":1},{"maximum":5}],"additionalItems":false},
            "name":{"type":"string","maxLength":8,
                    "messages":{"maxLength":"name too long"}}},
          "patternProperties":{"^ro":{"maxLength":3}},
          "additionalProperties":false}""",
      df)
    // message resolution at every keyed site: a required name with and
    // without a sub-schema, a column the row schema lacks, and a
    // dependency naming a property that carries a requiredMessage
    vsOracle(
      """{"required":["rogue","pair","absent"],
          "messages":{"required":"needed","dependencies":"depends"},
          "properties":{"rogue":{"type":"string","requiredMessage":"rogue is required"}},
          "dependencies":{"name":["rogue","xs"]}}""",
      df)
  }

  test("enum, multipleOf decimal trick, formats, dependencies") {
    val df = spark.range(150).select(
      (col("id") % 7 * 3.3 - 1.2).as("amount"),
      concat(lit("u"), col("id")).as("code"),
      when(col("id") % 3 === 0, concat(lit("a"), col("id"), lit("@x.io")))
        .otherwise(lit("nope")).as("mail"),
      when(col("id") % 5 === 0, lit(null).cast("string")).otherwise(lit("en")).as("lang"))
    vsOracle(
      """{"required":["lang"],
          "properties":{
            "amount":{"multipleOf":0.01,"minimum":0,"exclusiveMinimum":true},
            "mail":{"format":"email"},
            "code":{"format":"digitsuffix"},
            "lang":{"enum":["en","de",null]}},
          "dependencies":{"mail":["lang"],
                          "lang":{"properties":{"code":{"minLength":2}}}}}""",
      df,
      formats = Map("digitsuffix" -> "\\d$"))
  }

  test("vector kernels: bit-identical to the Column fold formulations") {
    import graft.ops.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = e.select(col("vec_id").as("ida"), col("embedding").as("a"))
      .join(e.select((col("vec_id") + 1).as("idb"), col("embedding").as("b")),
        col("ida") === col("idb"))
    // exact double equality — the kernels run the same left-fold sums
    val cosDiff = pairs.where(
      Similarity.cosine(col("a"), col("b")) =!=
        Similarity.cosineColumns(col("a"), col("b"))).count()
    assert(cosDiff == 0, s"cosine kernel diverged on $cosDiff rows")
    val bucketDiff = e.where(
      Similarity.lshBuckets(col("embedding"), 64, 8, 4, 42L) =!=
        array((0 until 4).map(t =>
          Similarity.lshBucketColumns(col("embedding"), 64, 8, 42L + 7919L * t)): _*))
      .count()
    assert(bucketDiff == 0, s"lsh bucket kernel diverged on $bucketDiff rows")

    // degenerate inputs: zero-norm cosine is NULL (the Column Divide
    // would throw under ANSI); a NULL vector buckets to all-zeros like
    // the Column when/otherwise algebra
    val degenerate = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(Seq.fill(64)(0.0f), Seq.fill(64)(1.0f)),
        org.apache.spark.sql.Row(null, Seq.fill(64)(1.0f))),
      StructType(Seq(
        StructField("za", ArrayType(FloatType), nullable = true),
        StructField("zb", ArrayType(FloatType), nullable = true))))
    val deg = degenerate.select(
      Similarity.cosine(col("za"), col("zb")).as("c"),
      Similarity.lshBuckets(col("za"), 64, 8, 4, 42L).as("bk")).collect()
    assert(deg.forall(_.isNullAt(0)), "zero-norm/null cosine must be NULL")
    assert(deg(1).getSeq[Long](1) == Seq(0L, 0L, 0L, 0L),
      "NULL vector must bucket to zeros")
  }

  test("open-map object semantics on a MapType column") {
    val df = spark.range(40).select(
      col("id"),
      map_filter(
        map(lit("lang"), when(col("id") % 9 === 0, lit(null).cast("string"))
              .otherwise(concat(lit("l"), col("id") % 4)),
            lit("src"), concat(lit("src"), col("id")),
            lit("extra"), lit("x")),
        (k, _) => when(k === "extra", col("id") % 7 === 0)
          .when(k === "src", col("id") % 11 =!= 0)
          .otherwise(lit(true))).as("m"))
    vsOracle(
      """{"properties":{"m":{"type":"object",
           "minProperties":2,"maxProperties":2,
           "required":["lang","src"],
           "properties":{"src":{"pattern":"^src[0-9]+$","minLength":4}},
           "patternProperties":{"^la":{"enum":["l0","l1","l2"]}},
           "additionalProperties":false,
           "dependencies":{"extra":["src"]}}}}""",
      df)
  }

  test("DecimalType values run through the kernel") {
    val df = spark.range(300).select(
      // quarter-step decimals: .00/.25/.50/.75 — exercises the exact
      // integer value test and fractional multipleOf on decimals
      (col("id") * 111 % 997 / 4).cast("decimal(12,2)").as("amount"),
      ((col("id") * 7 + 1) / 4).cast("decimal(12,2)").as("price"),
      (col("id") % 50).cast("decimal(10,0)").as("qty"))
    vsOracle(
      """{"properties":{
           "amount":{"type":"integer","multipleOf":3},
           "price":{"minimum":5,"maximum":70,"exclusiveMaximum":true,
                    "multipleOf":0.5},
           "qty":{"minimum":10,"exclusiveMinimum":true}}}""",
      df)
    // enum over decimals: whole literals compare decimal-exact,
    // fractional in double (mirroring Catalyst's coercions)
    vsOracle(
      """{"properties":{"price":{"enum":[0.5, 2, 3.75]}}}""",
      df)

    // precision edges of the tightened multipleOf cast:
    // (a) HALF_UP round-up carry into a new integer digit (99.99999 →
    //     100.0000 at scale 4) must stay VALID, not overflow to a
    //     violation;
    // (b) a divisor literal wider than the column's integer digits must
    //     fit the cast type (every 0 ≤ x < 10 fails multipleOf 150.5
    //     except 0, which is a multiple)
    val edge = spark.sql(
      """SELECT CAST(99.99999 AS DECIMAL(7,5)) AS a,
                CAST(0.00 AS DECIMAL(3,2)) AS b,
                CAST(9.99 AS DECIMAL(3,2)) AS c""")
    val vEdge = Validator(
      """{"properties":{"a":{"multipleOf":0.01},
                        "b":{"multipleOf":150.5},
                        "c":{"multipleOf":150.5}}}""",
      ValidatorOptions(greedy = true))
    val row = vEdge.withValidation(edge)
      .select(col("valid"), col("errors")).head()
    assert(!row.getBoolean(0))
    assert(row.getSeq[Row](1).map(r => (r.getString(0), r.getString(1))) ==
      Seq(("c", "multipleOf"))) // a and b are exact multiples
    vsOracle(
      """{"properties":{"a":{"multipleOf":0.01},
                        "b":{"multipleOf":150.5},
                        "c":{"multipleOf":150.5}}}""",
      edge)
  }

  test("composite enum literals: kernel deep equality in both modes") {
    // the q_enum_composite shape plus nulls, nesting, and a map literal
    val df = spark.range(200).select(
      col("id"),
      array(pmod(col("id"), lit(3)).cast("int"),
        when(col("id") % 5 === 0, lit(null).cast("int"))
          .otherwise(pmod(col("id"), lit(4)).cast("int"))).as("tag"),
      struct(
        when(col("id") % 2 === 0, lit("a")).otherwise(lit("b")).as("f"),
        when(col("id") % 4 === 0, lit(1)).otherwise(lit(null).cast("int")).as("n"))
        .as("meta"),
      array(array(col("id").cast("int"))).as("nested"),
      map_filter(map(lit("k"), concat(lit("v"), col("id") % 2)),
        (_, _) => col("id") % 7 =!= 0).as("m"))
    vsOracle(
      """{"properties":{
           "tag":{"enum":[[0,1],[1,2],[2,1],[0,null]]},
           "meta":{"enum":[{"f":"a","n":1},{"f":"b"}]},
           "nested":{"enum":[[[3]],[[8]]]},
           "m":{"enum":[{"k":"v0"},{}]}}}""",
      df)
  }

  test("custom regex formats on non-string values run through the kernel") {
    val df = spark.range(120).select(
      col("id"),
      (col("id") % 30 * 1.5).as("d"),
      col("id").cast("decimal(10,2)").as("dec"),
      (col("id") % 2 === 0).as("flag"))
    vsOracle(
      """{"properties":{
           "id":{"format":"evenish"},
           "d":{"format":"has5"},
           "dec":{"format":"centsZero"},
           "flag":{"format":"isTrue"}}}""",
      df,
      formats = Map(
        "evenish" -> "[02468]$",
        "has5" -> "5",
        "centsZero" -> "\\.00$",
        "isTrue" -> "^true$"))
  }

  test("deep uniqueItems: nested arrays, structs, and float edge values") {
    val schema = StructType(Seq(
      StructField("nested", ArrayType(ArrayType(IntegerType)), nullable = true),
      StructField("recs", ArrayType(StructType(Seq(
        StructField("a", IntegerType, nullable = true),
        StructField("b", StringType, nullable = true)))), nullable = true),
      StructField("ds", ArrayType(DoubleType), nullable = true)))
    val rows = java.util.Arrays.asList(
      Row(Seq(Seq(1, 2), Seq(3)), Seq(Row(1, "x"), Row(2, "y")), Seq(1.0, 2.0)),
      Row(Seq(Seq(1, 2), Seq(1, 2)), Seq(Row(1, "x"), Row(1, "x")), Seq(0.0, -0.0)),
      Row(Seq(Seq(1, null), Seq(1, null)), Seq(Row(null, "x"), Row(null, "x")),
        Seq(Double.NaN, Double.NaN)),
      Row(null, null, Seq(1.5, 1.5, 2.5)),
      Row(Seq[Seq[Int]](), Seq[Row](), Seq[Double]()))
    val df = spark.createDataFrame(rows, schema)
    // Spark's array_distinct semantics: NaN equals NaN, -0.0 differs
    // from 0.0, NULL elements compare equal
    val dups = Seq(Seq(), Seq("nested", "recs"), Seq("nested", "recs", "ds"), Seq("ds"), Seq())
    vsExpected(
      """{"properties":{
           "nested":{"uniqueItems":true},
           "recs":{"uniqueItems":true},
           "ds":{"uniqueItems":true}}}""",
      df, Map.empty)(i => dups(i).map(p => (p, "uniqueItems", null, null)))
  }

  test("custom regex formats on date/timestamp values run through the kernel") {
    val df = spark.range(120).select(
      col("id"),
      date_add(lit(java.sql.Date.valueOf("2026-01-01")), col("id").cast("int")).as("d"),
      // varying fractional micros incl. zero (trailing-fraction trimming)
      timestamp_micros(col("id") * 86400000000L + col("id") % 3 * 123450L).as("ts"),
      timestamp_micros(col("id") * 3600000000L + col("id") % 2 * 7L)
        .cast("timestamp_ntz").as("tsn"))
    vsExpected(
      """{"properties":{
           "d":{"format":"jan26"},
           "ts":{"format":"hasFrac"},
           "tsn":{"format":"odd7"}}}""",
      df,
      Map(
        "jan26" -> Left("^2026-01-"),
        "hasFrac" -> Left("\\.\\d+$"),
        "odd7" -> Left("7$"))) { id =>
      // day 31 on is February; whole seconds render with no fraction
      Seq("d" -> (id >= 31), "ts" -> (id % 3 == 0), "tsn" -> (id % 2 == 0))
        .collect { case (p, true) => formatErr(p) }
    }
  }

  test("custom regex formats on nested and binary values run through the kernel") {
    // array/struct/map/binary values render through an embedded catalyst
    // Cast-to-string in the kernel — exercise null elements (null-element
    // style), struct field order, map arrow rendering, and UTF-8 decode
    val df = spark.range(120).select(
      col("id"),
      array(col("id").cast("int"),
        when(col("id") % 3 === 0, lit(null)).otherwise(col("id") * 2).cast("int")).as("arr"),
      struct(col("id").cast("int").as("a"),
        concat(lit("s"), col("id") % 7).as("b")).as("st"),
      map(lit("k"), (col("id") % 5).cast("int")).as("mp"),
      encode(concat(lit("b"), col("id") % 4), "UTF-8").as("bin"))
    vsExpected(
      """{"properties":{
           "arr":{"format":"endsEven"},
           "st":{"format":"sThree"},
           "mp":{"format":"kLow"},
           "bin":{"format":"bOdd"}}}""",
      df,
      Map(
        "endsEven" -> Left("[048]\\]$"),
        "sThree" -> Left("s3\\}$"),
        "kLow" -> Left("-> [012]\\}$"),
        "bOdd" -> Left("^b[13]$"))) { id =>
      // "[id, null]" or "[id, 2·id]"; "{id, s<id%7>}"; "{k -> id%5}"; "b<id%4>"
      Seq(
        "arr" -> (id % 3 == 0 || id % 5 == 1 || id % 5 == 3),
        "st" -> (id % 7 != 3),
        "mp" -> (id % 5 > 2),
        "bin" -> (id % 4 % 2 == 0)).collect { case (p, true) => formatErr(p) }
    }
  }

  test("Column-function custom formats run inside the error kernel") {
    val df = spark.range(6).select(col("id").cast("int").as("x"), (col("id") * 10).as("y"))
    val spec = """{"properties":{"x":{"format":"even"},"y":{"format":"even"}}}"""
    val even: Column => Column = c => c % 2 === 0
    vsExpected(spec, df, Map("even" -> Right(even))) { x =>
      if (x % 2 == 0) Seq() else Seq(formatErr("x"))
    }
    // jsen's custom formats see only the value: a function of another
    // column fails compile, naming the format
    val other: Column => Column = c => c < col("y")
    val e = intercept[IllegalArgumentException](Validator(spec,
      ValidatorOptions(formats = Map("even" -> Right(other)))).errors(df.schema))
    assert(e.getMessage.contains("'even'"), e.getMessage)
  }

  test("maps with non-string keys: counting keywords in the kernel, key-naming keywords rejected") {
    val mapIS = MapType(IntegerType, StringType)
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(0, Map()), Row(1, Map(1 -> "a")), Row(2, Map(1 -> "a", 2 -> "b")),
      Row(3, Map(1 -> "a", 2 -> "b", 3 -> "c")), Row(4, null)),
      StructType(Seq(StructField("id", IntegerType), StructField("m", mapIS))))
    val spec = """{"type":"object","minProperties":1,"maxProperties":2}"""
    val expected = Map(0 -> Seq(("", "minProperties", null, null)), 1 -> Seq(), 2 -> Seq(),
      3 -> Seq(("", "maxProperties", null, null)), 4 -> Seq(("", "type", null, null)))
    for (greedy <- Seq(true, false)) {
      val (valid, errors) = Validator(spec, ValidatorOptions(greedy = greedy))
        .forValue(col("m"), mapIS)
      assert(ColumnBridge.expression(errors).toString.contains("graft_validate_errors"))
      df.select(col("id"), valid, errors).collect().foreach { r =>
        val errs = r.getSeq[Row](2).map(e => (e.getString(0), e.getString(1), e.getString(2), e.getString(3)))
        val want = expected(r.getInt(0))
        assert(r.getBoolean(1) == want.isEmpty && errs == want, s"row $r (greedy=$greedy)")
      }
      // no property name can address an integer key
      Seq("""{"required":["1"]}""", """{"properties":{"1":{"type":"integer"}}}""",
          """{"patternProperties":{"^1":{}}}""", """{"additionalProperties":false}""",
          """{"dependencies":{"1":["2"]}}""").foreach { named =>
        val e = intercept[IllegalArgumentException](
          Validator(named, ValidatorOptions(greedy = greedy)).forValue(col("m"), mapIS))
        assert(e.getMessage.contains("names object keys"), s"$named: ${e.getMessage}")
      }
    }
    // Spark has no map equality: uniqueItems over maps fails compile too
    intercept[IllegalArgumentException](Validator("""{"uniqueItems":true}""")
      .forValue(col("ms"), ArrayType(MapType(StringType, IntegerType))))
  }
}
