package graft.entry

import graft.Validator
import graft.compile.{DefaultsBuilder, ValidatorOptions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryUtil {
  def T(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** [[T]] with guaranteed scan parallelism for kernel-heavy per-row
    * work ([[graft.ops.ScanSpread]]): the sf tables are ONE parquet file
    * with ONE row group, which Spark cannot split below a single task no
    * matter the split config. The `minBytes` floor keeps a small table
    * from paying the exchange. The spread hashes on the table's natural
    * key, which is unique per row, so the spread is even. */
  def Tspread(spark: SparkSession, dir: String, name: String,
              keys: Seq[String], minBytes: Long = 2L << 20): DataFrame =
    graft.ops.ScanSpread(T(spark, dir, name), keys.map(col), minBytes)

  /** greedy validator with standard outputs: valid + violation count. */
  def validate(df: DataFrame, spec: String,
               keyCols: Seq[String]): DataFrame = {
    val v = Validator(spec, ValidatorOptions(greedy = true)).withValidation(df)
    v.select((keyCols.map(col) :+ col("valid") :+
      size(col("errors")).cast("long").as("nviol")): _*)
  }
}

/** Row-constraint queries over the shared test tables: each exercises one
  * keyword family of SURVEY.md §2.1-2.4 end-to-end through the compiler,
  * with a hand-written ANSI-SQL oracle that independently restates the
  * draft-4 semantics. */
object ValidationQueries {
  import QueryUtil._

  val all: Seq[Q] = Seq(

    Q("q_type_bounds",
      (s, d) => validate(T(s, d, "documents"),
        """{"properties":{"n_chars":{"type":"integer","minimum":100,"maximum":450}}}""",
        Seq("doc_id")),
      Some("""SELECT doc_id, (n_chars IS NULL OR (n_chars >= 100 AND n_chars <= 450)) AS valid,
             (CASE WHEN n_chars IS NOT NULL AND n_chars < 100 THEN 1 ELSE 0 END
            + CASE WHEN n_chars IS NOT NULL AND n_chars > 450 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM documents""")),

    Q("q_enum_required",
      (s, d) => validate(
        T(s, d, "documents").select(col("doc_id"),
          expr("nullif(lang,'zh')").as("lang"), col("source")),
        """{"required":["doc_id","lang"],
            "properties":{"lang":{"enum":["en","de","fr","es"]}}}""",
        Seq("doc_id")),
      Some("""SELECT doc_id,
             (nullif(lang,'zh') IS NOT NULL AND nullif(lang,'zh') IN ('en','de','fr','es')) AS valid,
             (CASE WHEN nullif(lang,'zh') IS NULL THEN 1
                   WHEN nullif(lang,'zh') NOT IN ('en','de','fr','es') THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM documents""")),

    Q("q_pattern_strlen",
      (s, d) => validate(T(s, d, "part"),
        """{"required":["p_name"],
            "properties":{"p_name":{"type":"string","pattern":"^[a-z]+ [a-z]+$",
                                    "minLength":8,"maxLength":20},
                          "p_brand":{"pattern":"^Brand#\\d+$"}}}""",
        Seq("p_partkey")),
      Some("""SELECT p_partkey,
             (regexp_matches(p_name, '^[a-z]+ [a-z]+$') AND length(p_name) >= 8
              AND length(p_name) <= 20 AND regexp_matches(p_brand, '^Brand#\d+$')) AS valid,
             (CASE WHEN NOT regexp_matches(p_name, '^[a-z]+ [a-z]+$') THEN 1 ELSE 0 END
            + CASE WHEN length(p_name) < 8 THEN 1 ELSE 0 END
            + CASE WHEN length(p_name) > 20 THEN 1 ELSE 0 END
            + CASE WHEN NOT regexp_matches(p_brand, '^Brand#\d+$') THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM part""")),

    Q("q_numeric_exclusive",
      (s, d) => validate(T(s, d, "lineitem"),
        """{"properties":{
             "l_quantity":{"minimum":1,"maximum":25},
             "l_discount":{"minimum":0,"exclusiveMinimum":true},
             "l_extendedprice":{"maximum":60000,"exclusiveMaximum":true}}}""",
        Seq("l_orderkey", "l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
             (l_quantity >= 1 AND l_quantity <= 25 AND l_discount > 0
              AND l_extendedprice < 60000) AS valid,
             (CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END
            + CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END
            + CASE WHEN l_discount < 0 THEN 1 ELSE 0 END
            + CASE WHEN l_discount = 0 THEN 1 ELSE 0 END
            + CASE WHEN l_extendedprice > 60000 THEN 1 ELSE 0 END
            + CASE WHEN l_extendedprice = 60000 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM lineitem""")),

    Q("q_multiple_of",
      (s, d) => validate(Tspread(s, d, "orders", Seq("o_orderkey")),
        """{"properties":{"o_totalprice":{"multipleOf":0.25},
                          "o_orderkey":{"multipleOf":3}}}""",
        Seq("o_orderkey")),
      Some("""SELECT o_orderkey,
             (((CAST(o_totalprice AS DECIMAL(38,4)) % 0.25) = 0) AND o_orderkey % 3 = 0) AS valid,
             (CASE WHEN (CAST(o_totalprice AS DECIMAL(38,4)) % 0.25) <> 0 THEN 1 ELSE 0 END
            + CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM orders""")),

    // synthesized int array exercises items/minItems: element i of row =
    // (l_orderkey*31 + i*17) % 100, first element pushed negative on every
    // 89th order key
    Q("q_items_bounds",
      (s, d) => {
        val df = Tspread(s, d, "lineitem", Seq("l_orderkey", "l_linenumber")).select(
          col("l_orderkey"), col("l_linenumber"),
          transform(sequence(lit(0), pmod(col("l_linenumber"), lit(4)) + 1),
            i => (pmod(col("l_orderkey") * 31 + i * 17, lit(100)) -
              when(pmod(col("l_orderkey"), lit(89)) === 0 && i === 0, 500).otherwise(0))
              .cast("int")).as("tokens"))
        validate(df,
          """{"properties":{"tokens":{"type":"array","minItems":1,"maxItems":4,
               "items":{"type":"integer","minimum":0,"maximum":99}}}}""",
          Seq("l_orderkey", "l_linenumber"))
      },
      Some("""WITH t AS (
               SELECT l_orderkey, l_linenumber,
                 list_transform(range(0, (l_linenumber % 4) + 2),
                   i -> ((l_orderkey*31 + i*17) % 100)
                        - (CASE WHEN l_orderkey % 89 = 0 AND i = 0 THEN 500 ELSE 0 END)) AS tokens
               FROM lineitem)
             SELECT l_orderkey, l_linenumber,
               (len(tokens) >= 1 AND len(tokens) <= 4
                AND len(list_filter(tokens, x -> x < 0 OR x > 99)) = 0) AS valid,
               (CASE WHEN len(tokens) < 1 THEN 1 ELSE 0 END
                + CASE WHEN len(tokens) > 4 THEN 1 ELSE 0 END
                + len(list_filter(tokens, x -> x < 0 OR x > 99)))::BIGINT AS nviol
             FROM t""")),

    Q("q_unique_items",
      (s, d) => {
        val df = Tspread(s, d, "lineitem", Seq("l_orderkey", "l_linenumber")).select(
          col("l_orderkey"), col("l_linenumber"),
          transform(sequence(lit(0), lit(3)),
            i => when(pmod(col("l_orderkey"), lit(13)) === 0, i * 0)
              .otherwise(pmod(col("l_orderkey") + i * 7, lit(1000))).cast("int")).as("arr"))
        validate(df, """{"properties":{"arr":{"uniqueItems":true}}}""",
          Seq("l_orderkey", "l_linenumber"))
      },
      Some("""WITH t AS (
               SELECT l_orderkey, l_linenumber,
                 list_transform(range(0, 4),
                   i -> CASE WHEN l_orderkey % 13 = 0 THEN i*0
                             ELSE (l_orderkey + i*7) % 1000 END) AS arr
               FROM lineitem)
             SELECT l_orderkey, l_linenumber,
               (len(list_distinct(arr)) = len(arr)) AS valid,
               (CASE WHEN len(list_distinct(arr)) <> len(arr) THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM t""")),

    Q("q_tuple_items",
      (s, d) => {
        val df = T(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          when(pmod(col("l_orderkey"), lit(5)) === 0,
            array(col("l_linenumber"), pmod(col("l_orderkey"), lit(7)).cast("int"),
              lit(9)))
            .otherwise(array(col("l_linenumber"), pmod(col("l_orderkey"), lit(7)).cast("int")))
            .as("pair"))
        validate(df,
          """{"properties":{"pair":{
               "items":[{"minimum":1,"maximum":7},{"maximum":5}],
               "additionalItems":false}}}""",
          Seq("l_orderkey", "l_linenumber"))
      },
      Some("""WITH t AS (
               SELECT l_orderkey, l_linenumber,
                 CASE WHEN l_orderkey % 5 = 0
                      THEN [l_linenumber, l_orderkey % 7, 9]
                      ELSE [l_linenumber, l_orderkey % 7] END AS pair
               FROM lineitem)
             SELECT l_orderkey, l_linenumber,
               (pair[1] >= 1 AND pair[1] <= 7 AND pair[2] <= 5 AND len(pair) <= 2) AS valid,
               (CASE WHEN pair[1] < 1 THEN 1 ELSE 0 END
              + CASE WHEN pair[1] > 7 THEN 1 ELSE 0 END
              + CASE WHEN pair[2] > 5 THEN 1 ELSE 0 END
              + CASE WHEN len(pair) > 2 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM t""")),

    // allOf + anyOf + oneOf + not in one spec; greedy error counts follow
    // the reference's rollback arithmetic (branch errors survive only on
    // combinator failure; allOf branch errors always surface directly,
    // with no allOf record of its own — jsen.js:412-420, README.md:388)
    Q("q_combinators",
      (s, d) => validate(T(s, d, "orders"),
        """{"properties":{
             "o_totalprice":{"anyOf":[{"maximum":50000},{"minimum":150000}]},
             "o_custkey":{"oneOf":[{"maximum":700},{"minimum":300}]},
             "o_orderkey":{"not":{"multipleOf":5}},
             "o_orderpriority":{"allOf":[{"minLength":6},{"maxLength":8}]}}}""",
        Seq("o_orderkey")),
      Some("""SELECT o_orderkey,
             ((o_totalprice <= 50000 OR o_totalprice >= 150000)
              AND NOT (o_custkey <= 700 AND o_custkey >= 300)
              AND o_orderkey % 5 <> 0
              AND length(o_orderpriority) >= 6 AND length(o_orderpriority) <= 8) AS valid,
             (CASE WHEN NOT (o_totalprice <= 50000 OR o_totalprice >= 150000) THEN 3 ELSE 0 END
            + CASE WHEN (o_custkey <= 700 AND o_custkey >= 300) THEN 1
                   WHEN NOT (o_custkey <= 700 OR o_custkey >= 300) THEN 3 ELSE 0 END
            + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
            + CASE WHEN length(o_orderpriority) < 6 THEN 1 ELSE 0 END
            + CASE WHEN length(o_orderpriority) > 8 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM orders""")),

    // property form (discount → tax must be present) AND schema form
    // (tax present → whole instance re-validated against a sub-schema,
    // jsen.js:393-398)
    Q("q_dependencies",
      (s, d) => validate(
        T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          expr("nullif(l_discount, 0.0)").as("discount"),
          expr("nullif(l_tax, 0.02)").as("tax")),
        """{"dependencies":{
             "discount":["tax"],
             "tax":{"properties":{"discount":{"minimum":0.02}}}}}""",
        Seq("l_orderkey", "l_linenumber")),
      Some("""WITH t AS (
               SELECT l_orderkey, l_linenumber,
                 nullif(l_discount, 0.0) AS discount, nullif(l_tax, 0.02) AS tax
               FROM lineitem)
             SELECT l_orderkey, l_linenumber,
             ((discount IS NULL OR tax IS NOT NULL)
              AND (tax IS NULL OR discount IS NULL OR discount >= 0.02)) AS valid,
             (CASE WHEN discount IS NOT NULL AND tax IS NULL THEN 1 ELSE 0 END
            + CASE WHEN tax IS NOT NULL AND discount IS NOT NULL
                    AND discount < 0.02 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM t""")),

    // the error contract itself: one row per violation with jsen paths
    Q("q_violation_rows",
      (s, d) => Validator(
        """{"required":["doc_id","text"],
            "properties":{"n_chars":{"minimum":150,"maximum":400},
                          "lang":{"enum":["en","de","fr"]},
                          "source":{"pattern":"^src\\d+$"}}}""",
        ValidatorOptions(greedy = true))
        .violations(T(s, d, "documents"), Seq("doc_id"))
        .select("doc_id", "path", "keyword"),
      Some("""SELECT doc_id, 'n_chars' AS path, 'minimum' AS keyword FROM documents
              WHERE n_chars IS NOT NULL AND n_chars < 150
              UNION ALL
              SELECT doc_id, 'n_chars', 'maximum' FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 400
              UNION ALL
              SELECT doc_id, 'lang', 'enum' FROM documents
              WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr')
              UNION ALL
              SELECT doc_id, 'source', 'pattern' FROM documents
              WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src\d+$')""")),

    Q("q_ref_inline",
      (s, d) => validate(T(s, d, "documents"),
        """{"definitions":{"charRange":{"minimum":100,"maximum":450}},
            "properties":{"n_chars":{"$ref":"#/definitions/charRange"}}}""",
        Seq("doc_id")),
      Some("""SELECT doc_id, (n_chars IS NULL OR (n_chars >= 100 AND n_chars <= 450)) AS valid,
             (CASE WHEN n_chars IS NOT NULL AND n_chars < 100 THEN 1 ELSE 0 END
            + CASE WHEN n_chars IS NOT NULL AND n_chars > 450 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM documents""")),

    // built-in formats (email, ipv4 — strings only) + one custom format
    // (runs last, for all types — jsen.js:1015-1035). Columns synthesized
    // from doc_id so the oracle can restate the expected match outcome
    // arithmetically; the regexes themselves are conformance-tested against
    // the reference's vectors in KeywordSpec.
    Q("q_format",
      (s, d) => {
        val df = T(s, d, "documents").select(
          col("doc_id"),
          concat(lit("u"), col("doc_id").cast("string"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit("@example.com"))
              .otherwise(lit(""))).as("email"),
          concat(pmod(col("doc_id"), lit(300)).cast("string"), lit(".0.0.1")).as("ip"),
          when(pmod(col("doc_id"), lit(5)) === 0, lit("EN")).otherwise(lit("en")).as("code"))
        val v = Validator(
          """{"properties":{"email":{"format":"email"},
                            "ip":{"format":"ipv4"},
                            "code":{"format":"lang-code"}}}""",
          ValidatorOptions(greedy = true,
            formats = Map("lang-code" -> Left("^[a-z]{2}$"))))
          .withValidation(df)
        v.select(col("doc_id"), col("valid"),
          size(col("errors")).cast("long").as("nviol"))
      },
      Some("""SELECT doc_id,
             (doc_id % 3 = 0 AND doc_id % 300 < 256 AND doc_id % 5 <> 0) AS valid,
             (CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 300 >= 256 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM documents""")),

    // open-object semantics over a MapType column: minProperties /
    // maxProperties / properties descent / patternProperties /
    // additionalProperties=false with key reporting, all in one fused
    // entry pass (reference generator: jsen.js:239-253, 303-378).
    // Key universe per row: 'lang' always; 'src' unless doc_id%11=0;
    // 'extra' when doc_id%7=0.
    Q("q_object_open",
      (s, d) => {
        val m = map_filter(
          map(lit("lang"), col("lang"),
              lit("src"), col("source"),
              lit("extra"), lit("x")),
          (k, _) => when(k === "extra", pmod(col("doc_id"), lit(7)) === 0)
            .when(k === "src", pmod(col("doc_id"), lit(11)) =!= 0)
            .otherwise(lit(true)))
        val df = T(s, d, "documents").select(col("doc_id"), m.as("m"))
        validate(df,
          """{"properties":{"m":{"type":"object",
               "minProperties":2,"maxProperties":2,
               "properties":{"src":{"pattern":"^src[0-9]+$"}},
               "patternProperties":{"^la":{"enum":["en","de","fr"]}},
               "additionalProperties":false}}}""",
          Seq("doc_id"))
      },
      Some("""SELECT doc_id,
             (NOT (doc_id % 11 = 0 AND doc_id % 7 <> 0)
              AND NOT (doc_id % 11 <> 0 AND doc_id % 7 = 0)
              AND (doc_id % 11 = 0 OR regexp_matches(source, '^src[0-9]+$'))
              AND (lang IS NOT NULL AND lang IN ('en','de','fr'))
              AND doc_id % 7 <> 0) AS valid,
             (CASE WHEN doc_id % 11 = 0 AND doc_id % 7 <> 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 11 <> 0 AND doc_id % 7 = 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 11 <> 0
                    AND NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END
            + CASE WHEN lang IS NULL OR lang NOT IN ('en','de','fr') THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM documents""")),

    // additionalItems SCHEMA form: positional sub-schema for element 0,
    // the rest-schema for every later element (jsen.js:220-236)
    Q("q_items_rest",
      (s, d) => {
        val df = T(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          array((col("l_linenumber") - 1).cast("int"),
            pmod(col("l_orderkey"), lit(60)).cast("int"),
            pmod(col("l_orderkey"), lit(75)).cast("int")).as("xs"))
        validate(df,
          """{"properties":{"xs":{
               "items":[{"minimum":1}],
               "additionalItems":{"maximum":50}}}}""",
          Seq("l_orderkey", "l_linenumber"))
      },
      Some("""WITH t AS (
               SELECT l_orderkey, l_linenumber,
                 [l_linenumber - 1, l_orderkey % 60, l_orderkey % 75] AS xs
               FROM lineitem)
             SELECT l_orderkey, l_linenumber,
               (xs[1] >= 1 AND xs[2] <= 50 AND xs[3] <= 50) AS valid,
               (CASE WHEN xs[1] < 1 THEN 1 ELSE 0 END
              + CASE WHEN xs[2] > 50 THEN 1 ELSE 0 END
              + CASE WHEN xs[3] > 50 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM t""")),

    // external schema registry (options.schemas, README.md:205-215):
    // a cross-document "$ref": "chars#/definitions/range"
    Q("q_ref_external",
      (s, d) => {
        val v = Validator(
          """{"properties":{"n_chars":{"$ref":"chars#/definitions/range"}}}""",
          ValidatorOptions(greedy = true,
            schemas = graft.json.Json.parse(
              """{"chars":{"definitions":{"range":{"minimum":100,"maximum":450}}}}""")
              match { case o: graft.json.JObj => Some(o); case _ => None }))
          .withValidation(T(s, d, "documents"))
        v.select(col("doc_id"), col("valid"),
          size(col("errors")).cast("long").as("nviol"))
      },
      Some("""SELECT doc_id, (n_chars IS NULL OR (n_chars >= 100 AND n_chars <= 450)) AS valid,
             (CASE WHEN n_chars IS NOT NULL AND n_chars < 100 THEN 1 ELSE 0 END
            + CASE WHEN n_chars IS NOT NULL AND n_chars > 450 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM documents""")),

    // the non-standard `date` type predicate (jsen.js:79-81, test/date.js)
    // + the built-in date-time format regex (lib/formats.js:6) on a string
    // timestamp + a timestamp-window bound via a custom Column format —
    // draft-4 has no numeric keywords for dates, and custom formats run
    // for ALL types, last (jsen.js:1015-1035). The Column-function format
    // runs inside the error kernel as a driver-bound catalyst predicate.
    Q("q_date_bounds",
      (s, d) => {
        val ev = T(s, d, "events").select(
          col("event_id"),
          when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("timestamp"))
            .otherwise(col("ts")).as("ts"),
          when(pmod(col("event_id"), lit(5)) === 0,
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
            .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")).as("ts_str"))
        val v = Validator(
          """{"required":["ts"],
              "properties":{"ts":{"type":"date","format":"ts-window"},
                            "ts_str":{"format":"date-time"}}}""",
          ValidatorOptions(greedy = true,
            formats = Map("ts-window" -> Right(c =>
              c >= to_timestamp(lit("2024-01-08 00:00:00")) &&
                c < to_timestamp(lit("2024-01-25 00:00:00"))))))
          .withValidation(ev)
        v.select(col("event_id"), col("valid"),
          size(col("errors")).cast("long").as("nviol"))
      },
      Some("""SELECT event_id,
             (event_id % 7 <> 0
              AND ts >= TIMESTAMP '2024-01-08 00:00:00'
              AND ts < TIMESTAMP '2024-01-25 00:00:00'
              AND event_id % 5 <> 0) AS valid,
             (CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END
            + CASE WHEN event_id % 7 <> 0 AND NOT (ts >= TIMESTAMP '2024-01-08 00:00:00'
                   AND ts < TIMESTAMP '2024-01-25 00:00:00') THEN 1 ELSE 0 END
            + CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM events""")),

    // composite enum literals (array + object) — deep structural equality
    // with order-insensitive keys and missing-field ≡ NULL
    // (lib/equal.js:9-15, 28-69), kernel-native (KernelCompiler litEquals).
    Q("q_enum_composite",
      (s, d) => {
        val df = T(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          array(pmod(col("l_orderkey"), lit(3)).cast("int"),
            col("l_linenumber").cast("int")).as("tag"),
          struct(
            when(pmod(col("l_orderkey"), lit(2)) === 0, lit("a"))
              .otherwise(lit("b")).as("f"),
            when(pmod(col("l_linenumber"), lit(2)) === 0, lit(1))
              .otherwise(lit(null).cast("int")).as("n")).as("meta"))
        validate(df,
          """{"properties":{
               "tag":{"enum":[[0,1],[1,2],[2,1]]},
               "meta":{"enum":[{"f":"a","n":1},{"f":"b"}]}}}""",
          Seq("l_orderkey", "l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             (((l_orderkey % 3 = 0 AND l_linenumber = 1)
               OR (l_orderkey % 3 = 1 AND l_linenumber = 2)
               OR (l_orderkey % 3 = 2 AND l_linenumber = 1))
              AND ((l_orderkey % 2 = 0 AND l_linenumber % 2 = 0)
               OR (l_orderkey % 2 = 1 AND l_linenumber % 2 <> 0))) AS valid,
             (CASE WHEN NOT ((l_orderkey % 3 = 0 AND l_linenumber = 1)
               OR (l_orderkey % 3 = 1 AND l_linenumber = 2)
               OR (l_orderkey % 3 = 2 AND l_linenumber = 1)) THEN 1 ELSE 0 END
            + CASE WHEN NOT ((l_orderkey % 2 = 0 AND l_linenumber % 2 = 0)
               OR (l_orderkey % 2 = 1 AND l_linenumber % 2 <> 0)) THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM lineitem""")),

    // the NON-GREEDY contract (the reference's default mode,
    // jsen.js:900-902: `return` after the first errors.push): exactly one
    // violation row per invalid doc, in keyword order — required first
    // (schema key order), then properties in declaration order, minimum
    // before maximum within a property.
    Q("q_violations_nongreedy",
      (s, d) => Validator(
        """{"required":["text"],
            "properties":{"n_chars":{"minimum":150,"maximum":400},
                          "lang":{"enum":["en","de","fr"]},
                          "source":{"pattern":"^src\\d+$"}}}""",
        ValidatorOptions(greedy = false))
        .violations(
          T(s, d, "documents").select(col("doc_id"),
            expr("CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END").as("text"),
            col("n_chars"), col("lang"), col("source")),
          Seq("doc_id"))
        .select("doc_id", "path", "keyword"),
      Some("""WITH t AS (
               SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text,
                 n_chars, lang, source
               FROM documents),
             first_err AS (
               SELECT doc_id,
                 CASE WHEN text IS NULL THEN 'text'
                      WHEN n_chars IS NOT NULL AND n_chars < 150 THEN 'n_chars'
                      WHEN n_chars IS NOT NULL AND n_chars > 400 THEN 'n_chars'
                      WHEN lang IS NOT NULL AND lang NOT IN ('en','de','fr') THEN 'lang'
                      WHEN source IS NOT NULL
                           AND NOT regexp_matches(source, '^src\d+$') THEN 'source'
                      END AS path,
                 CASE WHEN text IS NULL THEN 'required'
                      WHEN n_chars IS NOT NULL AND n_chars < 150 THEN 'minimum'
                      WHEN n_chars IS NOT NULL AND n_chars > 400 THEN 'maximum'
                      WHEN lang IS NOT NULL AND lang NOT IN ('en','de','fr') THEN 'enum'
                      WHEN source IS NOT NULL
                           AND NOT regexp_matches(source, '^src\d+$') THEN 'pattern'
                      END AS keyword
               FROM t)
             SELECT doc_id, path, keyword FROM first_err WHERE path IS NOT NULL""")),

    // DecimalType columns through the FUSED KERNEL (engagement asserted in
    // KernelParitySpec): exact decimal bounds, the exclusive modifiers,
    // fractional multipleOf via decimal scaling, and the integer value
    // test on a scale-2 decimal.
    Q("q_decimal_bounds",
      (s, d) => {
        val df = Tspread(s, d, "lineitem", Seq("l_orderkey", "l_linenumber")).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("decimal(12,2)").as("price"),
          (col("l_quantity") +
            when(pmod(col("l_orderkey"), lit(4)) === 0, 0.5).otherwise(0.0))
            .cast("decimal(10,2)").as("qty"))
        validate(df,
          """{"properties":{
               "price":{"minimum":2000,"maximum":90000,"exclusiveMaximum":true,
                        "multipleOf":0.05},
               "qty":{"type":"integer","minimum":5,"exclusiveMinimum":true}}}""",
          Seq("l_orderkey", "l_linenumber"))
      },
      Some("""WITH t AS (
               SELECT l_orderkey, l_linenumber,
                 CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
                 CAST(l_quantity + (CASE WHEN l_orderkey % 4 = 0
                   THEN 0.5 ELSE 0.0 END) AS DECIMAL(10,2)) AS qty
               FROM lineitem)
             SELECT l_orderkey, l_linenumber,
               (price >= 2000 AND price < 90000
                AND (CAST(price AS DECIMAL(38,4)) % 0.05) = 0
                AND (qty % 1) = 0 AND qty > 5) AS valid,
               (CASE WHEN price < 2000 THEN 1 ELSE 0 END
              + CASE WHEN price > 90000 THEN 1 ELSE 0 END
              + CASE WHEN price = 90000 THEN 1 ELSE 0 END
              + CASE WHEN (CAST(price AS DECIMAL(38,4)) % 0.05) <> 0 THEN 1 ELSE 0 END
              + CASE WHEN (qty % 1) <> 0 THEN 1 ELSE 0 END
              + CASE WHEN (qty % 1) = 0 AND qty < 5 THEN 1 ELSE 0 END
              + CASE WHEN (qty % 1) = 0 AND qty = 5 THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM t""")),

    // validated ingest: the documents table round-trips through raw JSONL
    // and is re-validated by the one-pass source reader (parse + spec in
    // a single projection; the oracle restates the spec over the
    // original table — the round trip is lossless for non-null scalars)
    Q("q_source_jsonl",
      (s, d) => {
        // fixed path + overwrite: repeated gate/bench invocations reuse
        // one directory instead of leaking a table copy per run
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-gate-jsonl"
        T(s, d, "documents")
          .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("value"))
          .write.mode("overwrite").text(tmp)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType)))
        graft.sources.ValidatedSource.jsonl(s, tmp, schema,
          Validator(
            """{"required":["doc_id","lang"],
                "properties":{"n_chars":{"minimum":100,"maximum":450},
                              "lang":{"enum":["en","de","fr","es"]}}}""",
            ValidatorOptions(greedy = true)))
          .select(col("doc_id"), col("valid"),
            size(col("errors")).cast("long").as("nviol"))
      },
      Some("""SELECT doc_id,
             ((n_chars >= 100 AND n_chars <= 450)
              AND lang IN ('en','de','fr','es')) AS valid,
             (CASE WHEN n_chars < 100 THEN 1 ELSE 0 END
            + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END
            + CASE WHEN lang NOT IN ('en','de','fr','es') THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM documents""")),

    // validated COLUMNAR ingest (ORC round-trip): binary formats carry
    // no per-record corrupt channel, so the one-pass reader is the
    // constraint projection fused onto the scan; the oracle restates the
    // spec over the original table (the ORC round trip is lossless)
    Q("q_source_orc",
      (s, d) => {
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-gate-orc"
        T(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").orc(tmp)
        graft.sources.ValidatedSource.orc(s, tmp,
          Validator(
            """{"required":["doc_id","lang"],
                "properties":{"n_chars":{"minimum":100,"maximum":450},
                              "lang":{"enum":["en","de","fr","es"]}}}""",
            ValidatorOptions(greedy = true)))
          .select(col("doc_id"), col("valid"),
            size(col("errors")).cast("long").as("nviol"))
      },
      Some("""SELECT doc_id,
             ((n_chars >= 100 AND n_chars <= 450)
              AND lang IN ('en','de','fr','es')) AS valid,
             (CASE WHEN n_chars < 100 THEN 1 ELSE 0 END
            + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END
            + CASE WHEN lang NOT IN ('en','de','fr','es') THEN 1 ELSE 0 END)::BIGINT AS nviol
             FROM documents""")),

    Q("q_defaults_build",
      (s, d) => DefaultsBuilder.build(
        T(s, d, "documents").select(col("doc_id"),
          expr("nullif(lang,'en')").as("lang"),
          expr("CASE WHEN n_chars < 100 THEN NULL ELSE n_chars END").as("n_chars")),
        """{"properties":{"lang":{"default":"en"},"n_chars":{"default":-1}}}"""),
      Some("""SELECT doc_id,
                coalesce(nullif(lang,'en'), 'en') AS lang,
                coalesce(CASE WHEN n_chars < 100 THEN NULL ELSE n_chars END, -1) AS n_chars
              FROM documents""")),
  )
}
