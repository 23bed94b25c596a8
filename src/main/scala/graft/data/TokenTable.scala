package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic token table per BASELINE.json input_hint:
  * `(doc_id string, tokens array<int>, n_tok int, source string)` plus an
  * Iceberg-style partition column `part` (FIXTURES.md §1).
  *
  * Generated entirely with Catalyst expressions (no driver-side loops, no
  * RDDs): `spark.range` is embarrassingly parallel, every column derives
  * from the row id through xxhash64, so any scale factor reproduces
  * byte-identically regardless of parallelism — this is what lets the
  * N-vs-4N scaling benchmark run on the exact same logical input.
  *
  * Violations are injected at known rates (out-of-range tokens, n_tok
  * mismatches, duplicate doc_ids, unknown sources) so checks have a
  * ground truth to assert against.
  */
/** Typed row of the input table (BASELINE.json input_hint). */
final case class TokenRow(
    doc_id: String, tokens: Array[Int], n_tok: Int, source: String, part: Int)

object TokenTable {

  import org.apache.spark.sql.Dataset

  /** Typed view of the token table. */
  def typed(df: DataFrame): Dataset[TokenRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[TokenRow]
  }

  final case class Config(
      rows: Long,
      parts: Int = 8,
      vocabSize: Int = 49152,
      maxLen: Int = 256,
      // per-mille rates of injected violations
      oobPerMille: Int = 5,        // token out of [0, vocabSize)
      mismatchPerMille: Int = 3,   // n_tok != size(tokens)
      dupPerMille: Int = 2,        // doc_id duplicated from previous row
      unknownSourcePerMille: Int = 4,
      nullDocPerMille: Int = 1,    // doc_id NULL (required violation)
      numSources: Int = 20,
      seed: Long = 42L)

  /** The allowed-vocabulary dimension for the referential check
    * (FIXTURES.md §2): small enough to broadcast. */
  def vocabDim(spark: SparkSession, cfg: Config): DataFrame = {
    spark.range(cfg.numSources.toLong)
      .select(
        concat(lit("src"), col("id")).as("source"),
        // every 7th source is inactive; inactive counts as violation too
        (pmod(col("id"), lit(7)) =!= 0 || col("id") === 0).as("active"))
  }

  def generate(spark: SparkSession, cfg: Config): DataFrame = {
    val h = xxhash64(col("id"), lit(cfg.seed))
    def rate(tag: String): org.apache.spark.sql.Column =
      pmod(xxhash64(col("id"), lit(cfg.seed), lit(tag)), lit(1000))

    val len = (pmod(h, lit(cfg.maxLen.toLong)) + lit(1)).cast("int")

    // token i of row id: xxhash64(id, i, seed) mod V — fully deterministic
    val baseTokens = transform(
      sequence(lit(0), len - 1),
      i => pmod(xxhash64(col("id"), i, lit(cfg.seed)), lit(cfg.vocabSize.toLong)).cast("int"))

    // out-of-range injection: first token pushed past the vocab bound
    val tokens = when(rate("oob") < lit(cfg.oobPerMille),
        concat(array(lit(cfg.vocabSize + 7)), slice(baseTokens, 2, cfg.maxLen)))
      .otherwise(baseTokens)

    val nTok = when(rate("mismatch") < lit(cfg.mismatchPerMille), size(tokens) + lit(1))
      .otherwise(size(tokens)).cast("int")

    val docIdBase = concat(lit("doc-"), lpad(col("id").cast("string"), 12, "0"))
    val docIdDup = concat(lit("doc-"),
      lpad(greatest(col("id") - 1, lit(0L)).cast("string"), 12, "0"))
    val docId = when(rate("nulldoc") < lit(cfg.nullDocPerMille), lit(null).cast("string"))
      .when(rate("dup") < lit(cfg.dupPerMille), docIdDup)
      .otherwise(docIdBase)

    // skewed source distribution (Zipf-ish via squaring) to exercise the
    // skew-sensitive uniqueness/aggregation paths
    val srcIdx = pmod(
      pmod(xxhash64(col("id"), lit(cfg.seed), lit("src")), lit(cfg.numSources.toLong)) *
        pmod(xxhash64(col("id"), lit(cfg.seed), lit("src2")), lit(cfg.numSources.toLong)),
      lit(cfg.numSources.toLong))
    val source = when(rate("unksrc") < lit(cfg.unknownSourcePerMille),
        concat(lit("rogue"), pmod(h, lit(5)))).otherwise(concat(lit("src"), srcIdx))

    spark.range(cfg.rows)
      .select(
        docId.as("doc_id"),
        tokens.as("tokens"),
        nTok.as("n_tok"),
        source.as("source"),
        pmod(col("id"), lit(cfg.parts.toLong)).cast("int").as("part"))
  }

  /** The flagship row-constraint spec for the token table (SURVEY.md §7.2):
    * doc_id required + pattern, tokens bounded by vocab + non-empty,
    * n_tok >= 1, source required and non-empty. It does not check
    * n_tok == size(tokens): that relation spans two columns, and a
    * custom format sees only its own value. */
  def constraintSpec(vocabSize: Int): String =
    s"""{
       |  "type": "object",
       |  "required": ["doc_id", "tokens", "n_tok", "source"],
       |  "properties": {
       |    "doc_id": {"type": "string", "pattern": "^doc-\\\\d{12}$$"},
       |    "tokens": {
       |      "type": "array", "minItems": 1,
       |      "items": {"type": "integer", "minimum": 0, "maximum": ${vocabSize - 1}}
       |    },
       |    "n_tok": {"type": "integer", "minimum": 1},
       |    "source": {"type": "string", "minLength": 1}
       |  }
       |}""".stripMargin
}
