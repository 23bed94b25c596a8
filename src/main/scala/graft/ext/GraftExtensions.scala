package graft.ext

import graft.compile.ArrayBoundsCheck
import graft.sketch.{KllCdf, KllKsDistance, KllQuantiles, KllSketch, KllSketchAgg}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType}

/** SQL surface for the engine's custom Catalyst expressions, registered
  * the idiomatic way: `spark.sql.extensions=graft.ext.GraftExtensions` at
  * session build (spark-submit `--conf`), or [[GraftFunctions.register]]
  * on a live session.
  *
  * Registered functions:
  *  - `kll_sketch(col[, k])`            → binary (serialized KLL sketch)
  *  - `kll_quantiles(sketch, probs)`    → array<double>, probs a foldable
  *    array literal, e.g. `kll_quantiles(kll_sketch(v), array(0.5, 0.9))`
  *  - `kll_cdf(sketch, points)`         → array<double>
  *  - `kll_ks(a, b)`                    → double, two-sample KS distance
  *  - `freq_sketch(col[, capacity])`    → binary (space-saving heavy hitters)
  *  - `freq_topk(sketch, n)`            → array<struct<term,estimate,max_error>>
  *  - `freq_chi2(observed, reference)`  → double, restricted chi² drift
  *    (ORDER-SENSITIVE: cells come from the reference profile)
  *  - `freq_psi(observed, reference)`   → double, Population Stability
  *    Index (same order contract; scale-free in both totals)
  *  - `key_counts(col)`                 → binary (exact counts of the
  *    non-NULL keys, or of an array column's non-NULL elements)
  *  - `bloom_agg(col, n[, fpp])`        → binary (mergeable Bloom filter
  *    over string keys; no false negatives)
  *  - `bloom_contains(filter, key)`     → boolean membership probe
  *  - `graft_nfc(str)`                  → string, Unicode NFC composition
  *  - `graft_char_entropy(str)`         → double, Shannon entropy
  *    (bits/char) of the code-point distribution
  *  - `graft_deflate_ratio(str)`        → double, deflate compressed/raw
  *    byte ratio (long-range repetition signal)
  *  - `graft_fingerprint(str[, mult])`  → bigint, 31-multiplier rolling
  *    code-point hash mod 2^31-1 (the oracle-restateable document
  *    fingerprint)
  *  - `graft_simhash(text[, n])`        → bigint, 64-bit SimHash of the
  *    word n-gram shingle set (default n=3)
  *  - `graft_minhash(text[, n, k, seed])` → array<bigint>, k-slot MinHash
  *    signature of the word n-gram shingle set (defaults n=3, k=64,
  *    seed=42 — the [[graft.ops.Dedup]] LSH defaults)
  *  - `array_bounds(arr, lo, hi)`       → boolean, the fused single-pass
  *    bounds check (inclusive; NULL elements skipped)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // rewrite forall(arr, x -> bounds) into the fused codegen expression
    ext.injectOptimizerRule(_ => FuseArrayBounds)
  }
}

object GraftFunctions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  /** Evaluate a foldable array-of-numeric argument at analysis time. */
  private def foldDoubles(e: Expression, arg: String, fn: String): Seq[Double] = {
    require(e.foldable, s"$fn: $arg must be a foldable array literal")
    val dt = e.dataType match {
      case ArrayType(et, _) => et
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be array<double>, got ${other.simpleString}")
    }
    val arr = e.eval().asInstanceOf[ArrayData]
    arr.toObjectArray(dt).map {
      case d: java.lang.Double => d.doubleValue()
      case f: java.lang.Float => f.doubleValue()
      case i: java.lang.Integer => i.doubleValue()
      case l: java.lang.Long => l.doubleValue()
      case d: Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: non-numeric element $other in $arg")
    }.toSeq
  }
  private type Decimal = org.apache.spark.sql.types.Decimal

  // Catalyst builders mirroring the graft.ops Column pipelines exactly
  // (shingles -> ids -> kernel). Built as already-resolved trees — lambda
  // variables are concrete NamedLambdaVariables shared between function
  // and argument list — because a Column->Expression round-trip would
  // embed an opaque node the SQL analyzer cannot resolve.
  // ExtensionsSpec pins these to the Column formulations value-for-value.
  import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, BitwiseAnd, Coalesce, CreateArray, EqualTo, LambdaFunction, Lower, NamedLambdaVariable, Not, RegExpReplace, StringSplit, XxHash64}

  /** [[graft.ops.TextAnalysis.words]]: lowercased, punctuation-stripped,
    * empty-dropped whitespace word list — the same [[graft.compile.WordsKernel]]
    * the Scala API rides (bit-identical to the old regex+HOF chain,
    * WordsKernelSpec), so the SQL surface gets the kernel speed and the
    * stage keeps whole-stage codegen. */
  private def wordsExpr(text: Expression): Expression =
    graft.compile.WordsKernel(text)

  /** [[graft.ops.Dedup.shingles]]: distinct word n-grams via the
    * WordShingles kernel, NULL/short text -> [""]. */
  private def shinglesExpr(text: Expression, n: Int): Expression =
    Coalesce(Seq(graft.compile.WordShingles(wordsExpr(text), n),
      CreateArray(Seq(Literal("")))))

  private def foldLong(e: Expression, arg: String, fn: String): Long = {
    require(e.foldable, s"$fn: $arg must be a literal")
    e.eval() match {
      case i: java.lang.Integer => i.longValue()
      case l: java.lang.Long => l.longValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integral literal, got $other")
    }
  }

  private def foldDouble(e: Expression, arg: String, fn: String): Double = {
    require(e.foldable, s"$fn: $arg must be a literal")
    e.eval() match {
      case d: java.lang.Double  => d.doubleValue()
      case f: java.lang.Float   => f.doubleValue()
      case i: java.lang.Integer => i.doubleValue()
      case l: java.lang.Long    => l.doubleValue()
      case d: Decimal           => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a numeric literal, got $other")
    }
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("kll_sketch"),
      info("kll_sketch", "kll_sketch(col[, k]) - mergeable KLL quantile sketch (binary)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => KllSketchAgg(Cast(c, DoubleType))
        case Seq(c, k) =>
          KllSketchAgg(Cast(c, DoubleType), foldLong(k, "k", "kll_sketch").toInt)
        case _ => throw new IllegalArgumentException(
          "kll_sketch expects (col[, k])")
      }),

    (FunctionIdentifier("kll_quantiles"),
      info("kll_quantiles", "kll_quantiles(sketch, probs) - quantile estimates from a KLL sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(s, probs) =>
          KllQuantiles(s, foldDoubles(probs, "probs", "kll_quantiles"))
        case _ => throw new IllegalArgumentException(
          "kll_quantiles expects (sketch, array<double>)")
      }),

    (FunctionIdentifier("kll_cdf"),
      info("kll_cdf", "kll_cdf(sketch, points) - CDF estimates from a KLL sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(s, points) =>
          KllCdf(s, foldDoubles(points, "points", "kll_cdf"))
        case _ => throw new IllegalArgumentException(
          "kll_cdf expects (sketch, array<double>)")
      }),

    (FunctionIdentifier("kll_ks"),
      info("kll_ks", "kll_ks(sketch_a, sketch_b) - two-sample KS distance between KLL sketches"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => KllKsDistance(a, b)
        case _ => throw new IllegalArgumentException(
          "kll_ks expects (sketch_a, sketch_b)")
      }),

    (FunctionIdentifier("freq_sketch"),
      info("freq_sketch", "freq_sketch(col[, capacity]) - mergeable space-saving heavy-hitters sketch (binary)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.sketch.FreqSketchAgg(c)
        case Seq(c, k) => graft.sketch.FreqSketchAgg(c,
          foldLong(k, "capacity", "freq_sketch").toInt)
        case _ => throw new IllegalArgumentException(
          "freq_sketch expects (col[, capacity])")
      }),

    (FunctionIdentifier("freq_topk"),
      info("freq_topk", "freq_topk(sketch, n) - top-n heavy hitters with error bounds"),
      (args: Seq[Expression]) => args match {
        case Seq(s, n) => graft.sketch.FreqTopK(s, foldLong(n, "n", "freq_topk").toInt)
        case _ => throw new IllegalArgumentException(
          "freq_topk expects (sketch, n)")
      }),

    (FunctionIdentifier("freq_chi2"),
      info("freq_chi2", "freq_chi2(observed, reference) - restricted chi2 drift of an observed frequency sketch against a reference profile (cells come from the reference; order matters)"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => graft.sketch.FreqChi2(a, b)
        case _ => throw new IllegalArgumentException(
          "freq_chi2 expects (sketch_a, sketch_b)")
      }),

    (FunctionIdentifier("freq_psi"),
      info("freq_psi", "freq_psi(observed, reference) - Population Stability Index of an observed frequency sketch against a reference profile (cells come from the reference; order matters; scale-free in both totals)"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => graft.sketch.FreqPsi(a, b)
        case _ => throw new IllegalArgumentException(
          "freq_psi expects (sketch_a, sketch_b)")
      }),

    (FunctionIdentifier("key_counts"),
      info("key_counts", "key_counts(col) - exact counts of the non-NULL keys, or of an array column's non-NULL elements (binary, keys sorted)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.sketch.KeyCountsAgg(c)
        case _ => throw new IllegalArgumentException("key_counts expects (col)")
      }),

    (FunctionIdentifier("bloom_agg"),
      info("bloom_agg", "bloom_agg(col, expectedItems[, fpp]) - mergeable Bloom filter over string keys (binary); no false negatives"),
      (args: Seq[Expression]) => args match {
        case Seq(c, n) => graft.sketch.BloomAgg(c,
          foldLong(n, "expectedItems", "bloom_agg"))
        case Seq(c, n, p) => graft.sketch.BloomAgg(c,
          foldLong(n, "expectedItems", "bloom_agg"),
          foldDouble(p, "fpp", "bloom_agg"))
        case _ => throw new IllegalArgumentException(
          "bloom_agg expects (col, expectedItems[, fpp])")
      }),

    (FunctionIdentifier("bloom_contains"),
      info("bloom_contains", "bloom_contains(filter, key) - Bloom membership probe (false only when definitely absent)"),
      (args: Seq[Expression]) => args match {
        case Seq(b, k) => graft.sketch.BloomContains(b, k)
        case _ => throw new IllegalArgumentException(
          "bloom_contains expects (filter, key)")
      }),

    (FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(str) - Unicode NFC canonical composition (ASCII fast path)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.compile.NormalizeNfc(c)
        case _ => throw new IllegalArgumentException("graft_nfc expects (str)")
      }),

    (FunctionIdentifier("graft_char_entropy"),
      info("graft_char_entropy", "graft_char_entropy(str) - Shannon entropy (bits/char) of the code-point distribution (ascending-code-point summation; round to 6 for cross-engine compares)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.compile.CharEntropy(c)
        case _ => throw new IllegalArgumentException("graft_char_entropy expects (str)")
      }),

    (FunctionIdentifier("graft_deflate_ratio"),
      info("graft_deflate_ratio", "graft_deflate_ratio(str) - deflate(level 6) compressed/raw UTF-8 byte ratio (long-range repetition signal; empty string -> 1.0)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.compile.DeflateRatio(c)
        case _ => throw new IllegalArgumentException("graft_deflate_ratio expects (str)")
      }),

    (FunctionIdentifier("graft_fingerprint"),
      info("graft_fingerprint", "graft_fingerprint(str[, mult]) - rolling code-point hash mod 2^31-1 (document fingerprint)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.compile.Fingerprint32(c)
        case Seq(c, m) => graft.compile.Fingerprint32(c,
          foldLong(m, "mult", "graft_fingerprint"))
        case _ => throw new IllegalArgumentException(
          "graft_fingerprint expects (str[, mult])")
      }),

    (FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(text[, n]) - 64-bit SimHash of the word n-gram shingle set"),
      (args: Seq[Expression]) => {
        def build(c: Expression, n: Int): Expression = {
          // ids = xxhash64(shingle), seed 42 — Dedup.simhash's default
          val x = NamedLambdaVariable("x", StringType, nullable = true)
          graft.compile.SimHash64(ArrayTransform(shinglesExpr(c, n),
            LambdaFunction(XxHash64(Seq(x), 42L), Seq(x))))
        }
        args match {
          case Seq(c) => build(c, 3)
          case Seq(c, n) => build(c, foldLong(n, "n", "graft_simhash").toInt)
          case _ => throw new IllegalArgumentException(
            "graft_simhash expects (text[, n])")
        }
      }),

    (FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(text[, n, k, seed]) - k-slot MinHash signature of the word n-gram shingle set"),
      (args: Seq[Expression]) => {
        def build(c: Expression, n: Int, k: Int, seed: Long): Expression = {
          // ids = xxhash64(shingle) masked to 31 bits (the affine
          // kernel's input domain) — Dedup.minhashSignature's default
          val x = NamedLambdaVariable("x", StringType, nullable = true)
          val ids = ArrayTransform(shinglesExpr(c, n),
            LambdaFunction(BitwiseAnd(XxHash64(Seq(x), 42L), Literal(0x7FFFFFFFL)), Seq(x)))
          val fam = graft.ops.Dedup.hashFamily(k, seed)
          graft.compile.MinHashSignature(ids, fam.map(_._1), fam.map(_._2))
        }
        args match {
          case Seq(c) => build(c, 3, 64, 42L)
          case Seq(c, n, k, seed) => build(c,
            foldLong(n, "n", "graft_minhash").toInt,
            foldLong(k, "k", "graft_minhash").toInt,
            foldLong(seed, "seed", "graft_minhash"))
          case _ => throw new IllegalArgumentException(
            "graft_minhash expects (text) or (text, n, k, seed)")
        }
      }),

    (FunctionIdentifier("array_bounds"),
      info("array_bounds", "array_bounds(arr, lo, hi) - single-pass fused bounds check over an integral array"),
      (args: Seq[Expression]) => args match {
        case Seq(arr, lo, hi) => ArrayBoundsCheck(arr,
          Some(foldLong(lo, "lo", "array_bounds")),
          Some(foldLong(hi, "hi", "array_bounds")),
          loExclusive = false, hiExclusive = false, failOnNull = false)
        case _ => throw new IllegalArgumentException(
          "array_bounds expects (arr, lo, hi)")
      }))

  /** Register on a live session (alternative to spark.sql.extensions). */
  def register(spark: SparkSession): Unit = all.foreach {
    case (ident, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, inf, builder)
  }
}
