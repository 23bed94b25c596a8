package graft.compile

import graft.json._
import graft.schema.SchemaResolver
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The error-path compiler (SURVEY.md §7.1 step 7): compiles a constraint
  * spec + static Spark type into ONE JVM evaluator that walks a value and
  * appends jsen-style error records — the analog of the reference's
  * single generated validator function
  * (lib/jsen.js:932-1036), and the engine's only source
  * of `validate.errors`.
  *
  * Division of labor: [[ConstraintCompiler]] compiles the `valid`
  * predicate to a whole-stage-codegen boolean (the fast path); the error
  * array is `when(valid, empty).otherwise(kernel)` ([[FusedErrors]]), so
  * this evaluator runs only for violating rows, in one JIT-compiled pass
  * with no per-keyword allocations.
  *
  * Every keyword is kernel-native over every value type the engine
  * carries, including composite enum literals, open-schema MapType
  * objects, DecimalType values (whole literals compare decimal-exact,
  * fractional ones in double, like Catalyst's coercions), custom regex
  * formats on any value type (nested values render through an embedded
  * catalyst Cast) and Column-function custom formats (a driver-bound
  * catalyst predicate carried in [[KernelCfg]]). What the engine cannot
  * validate — key-naming keywords over a map with non-string keys,
  * uniqueItems over maps, a custom format with no string rendering —
  * fails [[compile]] with an IllegalArgumentException. The records are
  * pinned against the test-side SpecOracle (KernelParitySpec,
  * Draft4OfficialSpec, CompilerFuzzSpec, PropertySpec).
  */
object KernelCompiler {

  /** Serializable subset of [[ValidatorOptions]] a kernel can honor.
    * `timeZone` is the SESSION timezone captured at compile time — the
    * one a `cast(ts AS STRING)` would use — so custom regex formats on
    * timestamps render identically on every executor.
    * `formatPredicates` holds each Column-function custom format as a
    * bound, analyzed catalyst predicate over ordinal 0, per value type it
    * is applied at (see [[withFormatPredicates]]). */
  final case class KernelCfg(
      leftFormats: Map[String, String],
      customNames: Set[String],
      schemasJson: Option[String],
      missingRef: Boolean,
      timeZone: String = "UTC",
      formatPredicates: Map[(String, DataType), Expression] = Map.empty)
    extends Serializable

  def cfgOf(opts: ValidatorOptions): KernelCfg = KernelCfg(
    opts.formats.collect { case (k, Left(re)) => k -> re },
    opts.formats.keySet,
    opts.schemas.map(Json.render),
    opts.missingRef,
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)

  final case class Err(path: String, keyword: String,
                       message: String, additional: AnyRef)

  /** Error sink. Non-greedy mode stops after the first pushed GROUP
    * (jsen.js:900-902 — `return` after the first errors.push); combinator
    * branches always run greedily into scratch buffers and roll back
    * (jsen.js:433-456). */
  final class ErrBuf(val greedy: Boolean) {
    val buf = new scala.collection.mutable.ArrayBuffer[Err](4)
    var stopped = false
    def push(path: String, keyword: String, message: String,
             additional: AnyRef = null): Unit = {
      buf += Err(path, keyword, message, additional)
      if (!greedy) stopped = true
    }
  }

  /** One compiled validation site: type dispatch, literals, regexes, and
    * field offsets are all resolved at compile time. */
  trait Ev extends Serializable {
    def eval(value: Any, path: String, out: ErrBuf): Unit
  }

  private object PassEv extends Ev {
    def eval(value: Any, path: String, out: ErrBuf): Unit = ()
  }

  private final class SeqEv(parts: Array[Ev]) extends Ev {
    def eval(value: Any, path: String, out: ErrBuf): Unit = {
      var i = 0
      while (i < parts.length && !out.stopped) {
        parts(i).eval(value, path, out); i += 1
      }
    }
  }
  private def seq(parts: Seq[Ev]): Ev = parts match {
    case Seq()  => PassEv
    case Seq(p) => p
    case ps     => new SeqEv(ps.toArray)
  }

  /** Compile a spec for values of type `dt`. Throws
    * IllegalArgumentException when the engine cannot validate the spec
    * over `dt`. */
  def compile(spec: JValue, dt: DataType, cfg: KernelCfg): Ev =
    compileWith(spec, dt, cfg, (name, t) => cfg.formatPredicates.getOrElse((name, t),
      throw new IllegalStateException(
        s"graft: custom format '$name' has no predicate for ${t.simpleString}")))

  /** `cfg` plus the predicate of every Column-function custom format the
    * spec applies, resolved by `resolve` once per value type it is
    * applied at. Driver side: `resolve` analyzes the user's function. */
  def withFormatPredicates(spec: JValue, dt: DataType, cfg: KernelCfg,
                           resolve: (String, DataType) => Expression): KernelCfg = {
    val preds = scala.collection.mutable.LinkedHashMap.empty[(String, DataType), Expression]
    compileWith(spec, dt, cfg, (name, t) => preds.getOrElseUpdate((name, t), resolve(name, t)))
    cfg.copy(formatPredicates = preds.toMap)
  }

  private def compileWith(spec: JValue, dt: DataType, cfg: KernelCfg,
                          formatPredicate: (String, DataType) => Expression): Ev = {
    spec match {
      case _: JObj => ()
      case _ => throw new IllegalArgumentException("graft: invalid schema object")
    }
    val schemas = cfg.schemasJson.map(Json.parse).collect { case o: JObj => o }
    val resolver = new SchemaResolver(spec, schemas, cfg.missingRef)
    new KCtx(resolver, cfg, formatPredicate).generate(spec, dt, knownNonNull = false, Nil)
  }

  /** JVM-wide compiled-kernel cache: a kernel is compiled once per
    * (spec, type, cfg) per JVM and shared by every task thread — compiled
    * state (literals, Patterns, field offsets) is immutable and
    * java.util.regex.Pattern is thread-safe; all evaluation state lives in
    * the per-call [[ErrBuf]]. Without this, CodegenFallback expressions
    * deserialized per task would recompile the kernel (including Pattern
    * compilation) once per task, and the driver would compile the same
    * spec again for its eager compile. Bounded: a true LRU (access-ordered
    * LinkedHashMap evicting the eldest entry past the cap) — a clear-all
    * policy under pathological spec churn would make every task thread
    * recompile (including Pattern compilation) simultaneously. */
  private val cacheCap = 512
  private type CacheKey = (String, DataType, KernelCfg)
  private val kernelCache =
    new java.util.LinkedHashMap[CacheKey, Ev](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[CacheKey, Ev]): Boolean =
        size() > cacheCap
    }

  def compileCached(specJson: String, dt: DataType, cfg: KernelCfg): Ev = {
    val key = (specJson, dt, cfg)
    val hit = kernelCache.synchronized(kernelCache.get(key))
    if (hit != null) hit
    else {
      // compile OUTSIDE the lock: a cold-start race compiles the same
      // kernel at most once per racing thread, but never serializes every
      // thread behind one Pattern compilation
      val v = compile(Json.parse(specJson), dt, cfg)
      kernelCache.synchronized {
        val again = kernelCache.get(key)
        if (again != null) again else { kernelCache.put(key, v); v }
      }
    }
  }

  // ----------------------------------------------------------------------

  // keyword grouping shared with the valid tree (Draft4Tables)
  private val keywordType = Draft4Tables.keywordType
  private val combinators = Draft4Tables.combinators

  private def childPath(parent: String, seg: String): String =
    if (parent.isEmpty) seg else parent + "." + seg

  private final class KCtx(resolver: SchemaResolver, cfg: KernelCfg,
                           formatPredicate: (String, DataType) => Expression) {

    type Stack = List[(JValue, DataType)]

    def generate(schemaV: JValue, dt: DataType, knownNonNull: Boolean,
                 stack: Stack): Ev = {
      val schema0 = schemaV match {
        case o: JObj => o
        case _       => return PassEv
      }
      val schema = if (schema0.has("$ref")) {
        val resolved = resolver.resolve(schema0)
        if (stack.exists { case (s, d) =>
          (s.asInstanceOf[AnyRef] eq resolved.asInstanceOf[AnyRef]) && d == dt })
          throw new IllegalArgumentException(
            "graft: unbounded recursive $ref cannot be compiled over a finite row schema")
        resolved match {
          case o: JObj => o
          case _       => return PassEv
        }
      } else schema0
      val stack2 = (schema: JValue, dt) :: stack

      schema.arr("enum") match {
        case Some(lits) if lits.nonEmpty => return kEnum(schema, lits, dt, knownNonNull)
        case _ => ()
      }

      val declaredTypes: Option[List[String]] = schema.get("type") match {
        case Some(JStr(t)) => Some(List(t))
        case Some(JArr(items)) if items.nonEmpty =>
          Some(items.collect { case JStr(t) => t }.toList)
        case _ => None
      }

      val hasPatternProps = schema.obj("patternProperties").isDefined
      val perType = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
      schema.keys.foreach { key =>
        if (key != "enum" && key != "type" && !combinators(key)) {
          keywordType.get(key).foreach { t =>
            if (!(key == "additionalProperties" && hasPatternProps))
              perType(t) = perType.getOrElse(t, Vector.empty) :+ key
          }
        }
      }

      val parts = Vector.newBuilder[Ev]

      val typePreds: Option[Array[Any => Boolean]] =
        declaredTypes.map(_.map(t => typePred(t, dt, knownNonNull)).toArray)
      typePreds.foreach { preds =>
        val msg = messageFor(schema, "type", None).orNull
        parts += new Ev {
          def eval(v: Any, path: String, out: ErrBuf): Unit = {
            var ok = false; var i = 0
            while (!ok && i < preds.length) { ok = preds(i)(v); i += 1 }
            if (!ok) out.push(path, "type", msg)
          }
        }
      }

      perType.foreach { case (t, kws) =>
        if (!staticFalse(t, dt)) {
          val gate = typePred(t, dt, knownNonNull)
          val unionGate: Any => Boolean = typePreds match {
            case Some(preds) => v => preds.exists(_(v)) && gate(v)
            case None        => gate
          }
          val groupParts = kws.flatMap(k => keywordEv(k, schema, dt, knownNonNull, stack2))
          if (groupParts.nonEmpty) {
            val grouped = seq(groupParts)
            parts += new Ev {
              def eval(v: Any, path: String, out: ErrBuf): Unit =
                if (unionGate(v)) grouped.eval(v, path, out)
            }
          }
        }
      }

      schema.keys.foreach {
        case "allOf" => schema.arr("allOf").foreach { subs =>
          subs.foreach(sub => parts += generate(sub, dt, knownNonNull, stack2))
        }
        case "anyOf" => schema.arr("anyOf").foreach { subs =>
          parts += kAnyOf(schema, subs, dt, knownNonNull, stack2)
        }
        case "oneOf" => schema.arr("oneOf").foreach { subs =>
          parts += kOneOf(schema, subs, dt, knownNonNull, stack2)
        }
        case "not" => schema.obj("not").foreach { sub =>
          parts += kNot(schema, sub, dt, knownNonNull, stack2)
        }
        case _ => ()
      }

      // custom formats run last, for all value types (jsen.js:1015-1035)
      schema.str("format").foreach { name =>
        if (cfg.customNames.contains(name)) {
          val ok: Any => Boolean = cfg.leftFormats.get(name) match {
            case Some(re) =>
              // the regex applies to cast(value AS STRING); SQL NULL never
              // matches
              val render = renderer(dt)
              val p = java.util.regex.Pattern.compile(JsRegex.toJava(re))
              v => v != null && p.matcher(render(v)).find()
            case None =>
              // a Column-function format, bound on the driver to a
              // predicate over ordinal 0 of this value type; NULL or
              // false fails
              val pred = formatPredicate(name, dt)
              v => pred.eval(new GenericInternalRow(Array[Any](v))) == true
          }
          parts += check(ok, "format", messageFor(schema, "format", None).orNull)
        }
      }

      seq(parts.result())
    }

    /** cast(value AS STRING) for custom regex formats. For scalars the
      * kernel value's Java toString is byte-identical to Spark's cast
      * (UTF8String/boxed primitive/Decimal all delegate to the same
      * formatting); dates and timestamps render through the SAME
      * catalyst formatter classes Cast itself uses; every other value
      * (array/struct/map/binary/interval...) renders through an actual
      * catalyst Cast-to-string evaluated on the extracted value, so it
      * tracks the engine exactly, including null-element style and any
      * legacy-cast conf the executor session carries. */
    private def renderer(dt: DataType): Any => String = dt match {
      case StringType | BooleanType | ByteType | ShortType |
           IntegerType | LongType | FloatType | DoubleType |
           _: DecimalType => v => v.toString
      case DateType =>
        val fmt = org.apache.spark.sql.catalyst.util.DateFormatter()
        v => fmt.format(v.asInstanceOf[Int])
      case TimestampType =>
        val fmt = org.apache.spark.sql.catalyst.util.TimestampFormatter
          .getFractionFormatter(
            org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(cfg.timeZone))
        v => fmt.format(v.asInstanceOf[Long])
      case TimestampNTZType =>
        val fmt = org.apache.spark.sql.catalyst.util.TimestampFormatter
          .getFractionFormatter(java.time.ZoneOffset.UTC)
        v => fmt.format(v.asInstanceOf[Long])
      case other if Cast.canCast(other, StringType) =>
        val cast = Cast(BoundReference(0, other, nullable = true),
          StringType, Option(cfg.timeZone))
        v => String.valueOf(cast.eval(new GenericInternalRow(Array[Any](v))))
      case other => throw new IllegalArgumentException(
        s"graft: a custom format cannot apply to ${other.simpleString} values")
    }

    // ---- type predicates (jsen.js:51-81) --------------------------------

    private def isNumeric(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _ => false
    }
    private def isIntegral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0 // as in ConstraintCompiler
      case _ => false
    }

    /** Decimal values reach the kernel as [[Decimal]]; comparisons mirror
      * the valid tree's Catalyst coercions: a whole spec literal compares
      * decimal-exact (Spark coerces bigint→decimal), a fractional literal
      * compares in double (DecimalPrecision casts both sides to double). */
    private def asBigDec(v: Any): java.math.BigDecimal =
      v.asInstanceOf[Decimal].toJavaBigDecimal

    /** Unscaled-long fast-path support: a DecimalType with precision ≤ 18
      * stores a compact unscaled long, so bound/divisibility/integrality
      * tests reduce to exact long arithmetic — the BigDecimal general
      * path allocated (toJavaBigDecimal + setScale/remainder/
      * stripTrailingZeros) per ROW per keyword, the dominant cost of
      * decimal-column validation. Each fast path below is gated on the
      * needed products fitting in a long and is value-identical to the
      * BigDecimal formulation it replaces. */
    private def isCompact(dt: DataType): Boolean = dt match {
      case d: DecimalType => d.precision <= 18
      case _ => false
    }
    private val Pow10: Array[Long] =
      (1 to 18).scanLeft(1L)((a, _) => a * 10L).toArray
    /** lit × 10^s as a Long, None on overflow (falls back to BigDecimal). */
    private def scaledLit(lit: Long, s: Int): Option[Long] =
      if (s > 18) None
      else { val p = Pow10(s)
        if (lit == 0) Some(0L)
        else if (math.abs(lit) <= Long.MaxValue / p) Some(lit * p) else None }
    private def unscaled(v: Any): Long = v.asInstanceOf[Decimal].toUnscaledLong

    private def asDouble(dt: DataType): Any => Double = dt match {
      case ByteType    => v => v.asInstanceOf[Byte].toDouble
      case ShortType   => v => v.asInstanceOf[Short].toDouble
      case IntegerType => v => v.asInstanceOf[Int].toDouble
      case LongType    => v => v.asInstanceOf[Long].toDouble
      case FloatType   => v => v.asInstanceOf[Float].toDouble
      case DoubleType  => v => v.asInstanceOf[Double]
      case other       =>
        throw new IllegalArgumentException(s"graft: not numeric: ${other.simpleString}")
    }
    private def asLong(dt: DataType): Any => Long = dt match {
      case ByteType    => v => v.asInstanceOf[Byte].toLong
      case ShortType   => v => v.asInstanceOf[Short].toLong
      case IntegerType => v => v.asInstanceOf[Int].toLong
      case LongType    => v => v.asInstanceOf[Long]
      case other       =>
        throw new IllegalArgumentException(s"graft: not integral: ${other.simpleString}")
    }
    def typePred(t: String, dt: DataType, knownNonNull: Boolean): Any => Boolean = {
      def nn: Any => Boolean = if (knownNonNull) _ => true else v => v != null
      t match {
        case "null"    => if (knownNonNull) _ => false else v => v == null
        case "boolean" => if (dt == BooleanType) nn else _ => false
        case "string"  => if (dt == StringType) nn else _ => false
        case "number"  => if (isNumeric(dt)) nn else _ => false
        case "integer" =>
          if (!isNumeric(dt)) _ => false
          else if (isIntegral(dt)) nn
          else dt match {
            case d: DecimalType if d.precision <= 18 =>
              // compact decimal: integer-valued iff the unscaled long is
              // divisible by 10^scale (identical to the stripTrailingZeros
              // test, minus the per-row BigDecimal allocations)
              val p = Pow10(d.scale)
              v => v != null && unscaled(v) % p == 0L
            case _: DecimalType =>
              // exact value test, like the valid tree's `col === floor(col)`
              // on decimals (no double rounding)
              v => v != null && asBigDec(v).stripTrailingZeros.scale <= 0
            case _ =>
              // value test on a float (jsen.js:67-69): 7.0 is an integer;
              // NaN passes too (Spark NaN = NaN is true through `floor`)
              val d = asDouble(dt)
              v => v != null && { val x = d(v); x.isNaN || x == math.floor(x) }
          }
        case "array"  => dt match { case _: ArrayType => nn; case _ => _ => false }
        case "object" => dt match {
          case _: StructType | _: MapType => nn
          case _                          => _ => false
        }
        case "date" => dt match {
          case DateType | TimestampType | TimestampNTZType => nn
          case _ => _ => false
        }
        case _ => _ => true // unknown type names are always-pass
      }
    }

    private def staticFalse(t: String, dt: DataType): Boolean = t match {
      case "boolean" => dt != BooleanType
      case "string"  => dt != StringType
      case "number" | "integer" => !isNumeric(dt)
      case "array"   => !dt.isInstanceOf[ArrayType]
      case "object"  => !(dt.isInstanceOf[StructType] || dt.isInstanceOf[MapType])
      case "date"    => !(dt == DateType || dt == TimestampType || dt == TimestampNTZType)
      case _ => false
    }

    // ---- messages: shared table logic (Draft4Tables) ---------------------

    def messageFor(schema: JObj, keyword: String, key: Option[String]): Option[String] =
      Draft4Tables.messageFor(resolver, schema, keyword, key)

    // ---- scalar keywords -------------------------------------------------

    private def check(ok: Any => Boolean, keyword: String, msg: String): Ev =
      new Ev {
        def eval(v: Any, path: String, out: ErrBuf): Unit =
          if (!ok(v)) out.push(path, keyword, msg)
      }

    /** Object keywords that address properties by name: over a map whose
      * keys are not strings no property name can match a key. Counting
      * keywords (min/maxProperties) and `type` apply to any map. */
    private val keyNaming = Set("required", "properties", "patternProperties",
      "additionalProperties", "dependencies")

    def keywordEv(keyword: String, schema: JObj, dt: DataType,
                  knownNonNull: Boolean, stack: Stack): Option[Ev] = {
      def msg(kw: String, key: Option[String] = None): String =
        messageFor(schema, kw, key).orNull
      dt match {
        case MapType(kt, _, _) if kt != StringType && keyNaming(keyword) =>
          throw new IllegalArgumentException(
            s"graft: '$keyword' names object keys; it cannot apply to ${dt.simpleString}")
        case _ => ()
      }
      keyword match {
        case "minimum" => schema.num("minimum").map { m =>
          numCompare(dt, m, "minimum", msg("minimum"), lt = true)
        }
        case "exclusiveMinimum" =>
          (schema.bool("exclusiveMinimum"), schema.num("minimum")) match {
            case (Some(true), Some(m)) =>
              Some(numEquals(dt, m, "exclusiveMinimum", msg("exclusiveMinimum")))
            case _ => None
          }
        case "maximum" => schema.num("maximum").map { m =>
          numCompare(dt, m, "maximum", msg("maximum"), lt = false)
        }
        case "exclusiveMaximum" =>
          (schema.bool("exclusiveMaximum"), schema.num("maximum")) match {
            case (Some(true), Some(m)) =>
              Some(numEquals(dt, m, "exclusiveMaximum", msg("exclusiveMaximum")))
            case _ => None
          }
        case "multipleOf" => schema.num("multipleOf").map { m =>
          kMultipleOf(m, dt, msg("multipleOf"))
        }

        case "minLength" => schema.int("minLength").map { n =>
          check(v => v.asInstanceOf[UTF8String].numChars() >= n, "minLength", msg("minLength"))
        }
        case "maxLength" => schema.int("maxLength").map { n =>
          check(v => v.asInstanceOf[UTF8String].numChars() <= n, "maxLength", msg("maxLength"))
        }
        case "pattern" => schema.str("pattern").map { p =>
          val pat = java.util.regex.Pattern.compile(JsRegex.toJava(p))
          check(v => pat.matcher(v.toString).find(), "pattern", msg("pattern"))
        }
        case "format" => schema.str("format").flatMap { name =>
          if (cfg.customNames.contains(name)) None
          else Formats.builtin.get(name).map { re =>
            val pat = java.util.regex.Pattern.compile(re)
            check(v => pat.matcher(v.toString).find(), "format", msg("format"))
          }
        }

        case "minItems" => schema.int("minItems").map { n =>
          check(v => v.asInstanceOf[ArrayData].numElements() >= n, "minItems", msg("minItems"))
        }
        case "maxItems" => schema.int("maxItems").map { n =>
          check(v => v.asInstanceOf[ArrayData].numElements() <= n, "maxItems", msg("maxItems"))
        }
        case "additionalItems" =>
          (schema.bool("additionalItems"), schema.arr("items")) match {
            case (Some(false), Some(tuple)) =>
              Some(check(v => v.asInstanceOf[ArrayData].numElements() <= tuple.length,
                "additionalItems", msg("additionalItems")))
            case _ => None
          }
        case "uniqueItems" => schema.bool("uniqueItems").collect { case true =>
          kUniqueItems(dt, msg("uniqueItems"))
        }
        case "items" => kItems(schema, dt, stack)

        case "maxProperties" => schema.int("maxProperties").map { n =>
          val cnt = propertyCount(dt)
          check(v => cnt(v) <= n, "maxProperties", msg("maxProperties"))
        }
        case "minProperties" => schema.int("minProperties").map { n =>
          val cnt = propertyCount(dt)
          check(v => cnt(v) >= n, "minProperties", msg("minProperties"))
        }
        case "required" => kRequired(schema, dt)
        case "properties" => kProperties(schema, dt, stack)
        case "patternProperties" | "additionalProperties" =>
          kPatternAndAdditional(schema, dt, stack)
        case "dependencies" => kDependencies(schema, dt, stack)

        case _ => None
      }
    }

    /** minimum/maximum: fail iff x < min (resp. x > max). Plain JVM float
      * comparison already gives jsen's NaN-passes semantics that the valid
      * tree reproduces with an isnan escape. Mirrors the valid tree's
      * literal typing: a whole literal compares as long against integral
      * columns. */
    private def numCompare(dt: DataType, m: BigDecimal, kw: String, msg: String,
                           lt: Boolean): Ev = {
      if (dt.isInstanceOf[DecimalType]) {
        if (m.isWhole && m.abs <= BigDecimal(Long.MaxValue)) {
          val s = dt.asInstanceOf[DecimalType].scale
          val fast = if (isCompact(dt)) scaledLit(m.toLongExact, s) else None
          if (fast.isDefined) {
            // compact decimal vs whole literal: compare unscaled longs
            val sl = fast.get
            if (lt) return check(v => !(unscaled(v) < sl), kw, msg)
            else    return check(v => !(unscaled(v) > sl), kw, msg)
          }
          val lit = java.math.BigDecimal.valueOf(m.toLongExact)
          if (lt) check(v => !(asBigDec(v).compareTo(lit) < 0), kw, msg)
          else    check(v => !(asBigDec(v).compareTo(lit) > 0), kw, msg)
        } else {
          val lit = m.toDouble
          if (lt) check(v => !(asBigDec(v).doubleValue < lit), kw, msg)
          else    check(v => !(asBigDec(v).doubleValue > lit), kw, msg)
        }
      } else if (isIntegral(dt) && m.isWhole && m.abs <= BigDecimal(Long.MaxValue)) {
        val lit = m.toLongExact; val get = asLong(dt)
        if (lt) check(v => !(get(v) < lit), kw, msg)
        else    check(v => !(get(v) > lit), kw, msg)
      } else {
        val lit = m.toDouble; val get = asDouble(dt)
        if (lt) check(v => !(get(v) < lit), kw, msg)
        else    check(v => !(get(v) > lit), kw, msg)
      }
    }

    /** exclusiveMin/Max modifier: additionally fail x == bound. */
    private def numEquals(dt: DataType, m: BigDecimal, kw: String, msg: String): Ev = {
      if (dt.isInstanceOf[DecimalType]) {
        if (m.isWhole && m.abs <= BigDecimal(Long.MaxValue)) {
          val s = dt.asInstanceOf[DecimalType].scale
          val fast = if (isCompact(dt)) scaledLit(m.toLongExact, s) else None
          if (fast.isDefined) {
            val sl = fast.get
            return check(v => unscaled(v) != sl, kw, msg)
          }
          val lit = java.math.BigDecimal.valueOf(m.toLongExact)
          check(v => asBigDec(v).compareTo(lit) != 0, kw, msg)
        } else {
          val lit = m.toDouble
          check(v => asBigDec(v).doubleValue != lit, kw, msg)
        }
      } else if (isIntegral(dt) && m.isWhole && m.abs <= BigDecimal(Long.MaxValue)) {
        val lit = m.toLongExact; val get = asLong(dt)
        check(v => get(v) != lit, kw, msg)
      } else {
        val lit = m.toDouble; val get = asDouble(dt)
        check(v => get(v) != lit, kw, msg)
      }
    }

    /** multipleOf with the decimal-scaling fix (jsen.js:123-139), matching
      * the valid tree's DecimalType arithmetic digit for digit. */
    private def kMultipleOf(mul: BigDecimal, dt: DataType, msg: String): Ev = {
      // multipleOf 0 ≡ always-fail for numeric values (jsen: x % 0 is NaN);
      // a JVM `% 0L` would throw per row
      if (mul == 0) return check(_ => false, "multipleOf", msg)
      val m = BigDecimal(mul.underlying.stripTrailingZeros())
      val decimals = math.max(0, m.scale)
      if (decimals == 0) {
        val lit = m.toLongExact
        if (dt.isInstanceOf[DecimalType]) {
          val s = dt.asInstanceOf[DecimalType].scale
          val fast = if (isCompact(dt)) scaledLit(lit, s) else None
          if (fast.isDefined && fast.get != 0L) {
            // compact decimal % whole literal on unscaled longs: both
            // operands share scale s, so remainder-zero ⇔ unscaled
            // divisibility
            val sl = fast.get
            return check(v => unscaled(v) % sl == 0L, "multipleOf", msg)
          }
          // valid tree: decimal % bigint literal — exact decimal remainder
          // (covers both scale-0 and fractional-scale decimal columns)
          val litBd = java.math.BigDecimal.valueOf(lit)
          check(v => asBigDec(v).remainder(litBd).signum == 0, "multipleOf", msg)
        } else if (isIntegral(dt)) {
          val get = asLong(dt)
          check(v => get(v) % lit == 0L, "multipleOf", msg)
        } else {
          val get = asDouble(dt)
          check(v => get(v) % lit == 0.0, "multipleOf", msg)
        }
      } else {
        val scale = math.min(2 * decimals, 18)
        // HALF_UP like the valid tree's literal-to-decimal cast (a divisor
        // with more than 18 decimals would otherwise throw
        // ArithmeticException here)
        val mScaled = m.underlying.setScale(scale, java.math.RoundingMode.HALF_UP)
        val maxPrecision = 38
        val get: Any => java.math.BigDecimal = dt match {
          case ByteType | ShortType | IntegerType | LongType =>
            val g = asLong(dt); v => java.math.BigDecimal.valueOf(g(v)).setScale(scale)
          case FloatType | DoubleType =>
            val g = asDouble(dt)
            v => {
              val x = g(v)
              if (x.isNaN || x.isInfinite) null
              else java.math.BigDecimal.valueOf(x)
                .setScale(scale, java.math.RoundingMode.HALF_UP)
            }
          case d: DecimalType =>
            // compact fast path: when the column's scale fits under the
            // target scale and re-scaling stays in a long, the HALF_UP
            // setScale is exact zero-append (u × 10^(scale−s)), the
            // precision guard holds statically (p−s ≤ 18 ≤ 38−scale),
            // and equal-scale remainder-zero is unscaled divisibility
            if (d.precision <= 18 && d.scale <= scale &&
                d.precision + (scale - d.scale) <= 18 &&
                mScaled.unscaledValue.bitLength <= 62) {
              val pow = Pow10(scale - d.scale)
              val mU = mScaled.unscaledValue.longValueExact
              if (mU != 0L)
                return check(v => (unscaled(v) * pow) % mU == 0L,
                  "multipleOf", msg)
            }
            // the valid tree's try_cast(col, decimal(38, scale)): round
            // HALF_UP; the precision guard below reproduces the
            // overflow→null→error path
            v => asBigDec(v).setScale(scale, java.math.RoundingMode.HALF_UP)
          case other => throw new IllegalArgumentException(
            s"graft: multipleOf on ${other.simpleString}")
        }
        check(v => {
          val bd = get(v)
          // null ≡ the valid tree's try_cast overflow/NaN → error branch
          bd != null && bd.precision - bd.scale <= maxPrecision - scale &&
            bd.remainder(mScaled).compareTo(java.math.BigDecimal.ZERO) == 0
        }, "multipleOf", msg)
      }
    }

    // ---- enum ------------------------------------------------------------

    private def kEnum(schema: JObj, lits: Vector[JValue], dt: DataType,
                      knownNonNull: Boolean): Ev = {
      val tests: Vector[Any => Boolean] = lits.map(litEquals(_, dt))
      val msg = messageFor(schema, "enum", None).orNull
      new Ev {
        def eval(v: Any, path: String, out: ErrBuf): Unit = {
          var ok = false; var i = 0
          while (!ok && i < tests.length) { ok = tests(i)(v); i += 1 }
          if (!ok) out.push(path, "enum", msg)
        }
      }
    }

    private def litEquals(l: JValue, dt: DataType): Any => Boolean = (l, dt) match {
      case (JNull, _) => v => v == null
      case (JBool(b), BooleanType) => v => v != null && v.asInstanceOf[Boolean] == b
      case (JNum(n), t: DecimalType) =>
        if (n.isWhole && n.abs <= BigDecimal(Long.MaxValue)) {
          val lit = java.math.BigDecimal.valueOf(n.toLongExact)
          v => v != null && asBigDec(v).compareTo(lit) == 0
        } else {
          val lit = n.toDouble
          v => v != null && asBigDec(v).doubleValue == lit
        }
      case (JNum(n), t) if isNumeric(t) =>
        if (isIntegral(t) && n.isWhole && n.abs <= BigDecimal(Long.MaxValue)) {
          val lit = n.toLongExact; val get = asLong(t)
          v => v != null && get(v) == lit
        } else {
          val lit = n.toDouble; val get = asDouble(t)
          v => v != null && get(v) == lit
        }
      case (JStr(s), StringType) =>
        val lit = UTF8String.fromString(s)
        v => v != null && v.asInstanceOf[UTF8String].equals(lit)

      // ---- composite literals: deep structural equality, the kernel twin
      // ---- of the valid tree's litEquals (lib/equal.js:28-69 semantics) ----
      case (JArr(items), ArrayType(et, _)) =>
        if (items.isEmpty) {
          v => v != null && v.asInstanceOf[ArrayData].numElements() == 0
        } else {
          val elems: Array[Any => Boolean] = items.map(litEquals(_, et)).toArray
          v => v != null && {
            val arr = v.asInstanceOf[ArrayData]
            arr.numElements() == elems.length && {
              var ok = true; var i = 0
              while (ok && i < elems.length) {
                val e = if (arr.isNullAt(i)) null else arr.get(i, et)
                ok = elems(i)(e); i += 1
              }
              ok
            }
          }
        }
      case (o: JObj, st: StructType) =>
        // order-insensitive keys: literal keys outside the closed struct
        // mean constant inequality; struct fields absent from the literal
        // must be NULL (missing ≡ NULL contract, SURVEY.md §7.4.1)
        if (o.keys.exists(k => !st.fieldNames.contains(k))) { _ => false }
        else {
          val fieldTests: Array[(Int, DataType, Any => Boolean)] =
            st.fields.zipWithIndex.map { case (f, i) =>
              val test: Any => Boolean = o.get(f.name) match {
                case Some(fv) => litEquals(fv, f.dataType)
                case None     => x => x == null
              }
              (i, f.dataType, test)
            }.toArray
          v => v != null && {
            val row = v.asInstanceOf[InternalRow]
            var ok = true; var j = 0
            while (ok && j < fieldTests.length) {
              val (i, fdt, t) = fieldTests(j)
              ok = t(if (row.isNullAt(i)) null else row.get(i, fdt))
              j += 1
            }
            ok
          }
        }
      case (o: JObj, MapType(StringType, vt, _)) =>
        val entries: Array[(UTF8String, Any => Boolean)] = o.fields.map {
          case (k, fv) => (UTF8String.fromString(k), litEquals(fv, vt))
        }.toArray
        v => v != null && {
          val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
          m.numElements() == entries.length && {
            var ok = true; var j = 0
            while (ok && j < entries.length) {
              val (present, value) = mapFind(m, entries(j)._1, vt)
              ok = present && entries(j)._2(value)
              j += 1
            }
            ok
          }
        }
      case _ => _ => false
    }

    // ---- arrays ------------------------------------------------------------

    private def kUniqueItems(dt: DataType, msg: String): Ev = {
      val et = dt match {
        case ArrayType(t, _) => t
        case _ => return PassEv
      }
      val norm = uniqueNormalizer(et)
      check(v => {
        val arr = v.asInstanceOf[ArrayData]
        val n = arr.numElements()
        val seen = new java.util.HashSet[Any](n * 2)
        var i = 0; var distinct = 0
        while (i < n) {
          val e = if (arr.isNullAt(i)) null else norm(arr.get(i, et))
          if (seen.add(e)) distinct += 1
          i += 1
        }
        distinct == n
      }, "uniqueItems", msg)
    }

    /** Element → a value with Spark-equality semantics under Java
      * equals/hashCode, so HashSet dedup matches Spark's `array_distinct`:
      * UTF8String and the boxed primitives already compare by value,
      * including the float edges: array_distinct uses java compare
      * semantics, under which NaN = NaN dedups and -0.0 ≠ 0.0 stays
      * distinct — exactly what boxed equals/hashCode do, so identity is
      * correct (pinned in KernelParitySpec); binary compares by content;
      * nested arrays and structs normalize recursively into Vectors
      * (deep structural dedup — jsen's lib/equal.js over unique, SURVEY
      * §2.5). Spark has no map equality, so uniqueItems over maps is
      * rejected at compile time. */
    private def uniqueNormalizer(dt: DataType): Any => Any = dt match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           StringType | DateType | TimestampType | TimestampNTZType |
           FloatType | DoubleType | _: DecimalType | NullType |
           _: YearMonthIntervalType | _: DayTimeIntervalType => identity
      case BinaryType => v => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case ArrayType(et, _) =>
        val n = uniqueNormalizer(et)
        v => {
          val a = v.asInstanceOf[ArrayData]
          val m = a.numElements()
          val out = Vector.newBuilder[Any]
          var i = 0
          while (i < m) {
            out += (if (a.isNullAt(i)) null else n(a.get(i, et)))
            i += 1
          }
          out.result()
        }
      case st: StructType =>
        val fields = st.fields.map(f => (f.dataType, uniqueNormalizer(f.dataType)))
        v => {
          val row = v.asInstanceOf[InternalRow]
          val out = Vector.newBuilder[Any]
          var i = 0
          while (i < fields.length) {
            out += (if (row.isNullAt(i)) null else fields(i)._2(row.get(i, fields(i)._1)))
            i += 1
          }
          out.result()
        }
      case other => throw new IllegalArgumentException(
        s"graft: uniqueItems cannot compare ${other.simpleString} elements")
    }

    private def kItems(schema: JObj, dt: DataType, stack: Stack): Option[Ev] = {
      val (et, elemNullable) = dt match {
        case ArrayType(t, n) => (t, n)
        case _ => return None
      }
      schema.get("items") match {
        case Some(sub: JObj) =>
          val elem = generate(sub, et, knownNonNull = !elemNullable, stack)
          Some(arrayEv(et, elem, from = 0))
        case Some(JArr(tuple)) =>
          val positional: Vector[Ev] = tuple.zipWithIndex.map { case (sub, i) =>
            val elem = generate(sub, et, knownNonNull = false, stack)
            new Ev {
              def eval(v: Any, path: String, out: ErrBuf): Unit = {
                val arr = v.asInstanceOf[ArrayData]
                if (arr.numElements() - 1 >= i) {
                  val e = if (arr.isNullAt(i)) null else arr.get(i, et)
                  elem.eval(e, childPath(path, i.toString), out)
                }
              }
            }
          }
          val rest: Vector[Ev] = schema.get("additionalItems") match {
            case Some(restSub: JObj) =>
              val elem = generate(restSub, et, knownNonNull = !elemNullable, stack)
              Vector(arrayEv(et, elem, from = tuple.length))
            case _ => Vector.empty
          }
          Some(seq(positional ++ rest))
        case _ => None
      }
    }

    private def arrayEv(et: DataType, elem: Ev, from: Int): Ev = new Ev {
      def eval(v: Any, path: String, out: ErrBuf): Unit = {
        val arr = v.asInstanceOf[ArrayData]
        val n = arr.numElements()
        var i = from
        while (i < n && !out.stopped) {
          val e = if (arr.isNullAt(i)) null else arr.get(i, et)
          elem.eval(e, childPath(path, i.toString), out)
          i += 1
        }
      }
    }

    // ---- objects: closed StructType (static keys) and open
    // ---- MapType(string, vt) (runtime keys; missing = key absent) --------

    private def structOf(dt: DataType): StructType = dt match {
      case st: StructType => st
      case _              => null
    }
    /** Value type of a map keyed by property names; null otherwise
      * (non-string-keyed maps never reach the key-naming keywords, see
      * [[keyNaming]]). */
    private def mapValueType(dt: DataType): DataType = dt match {
      case MapType(StringType, vt, _) => vt
      case _                          => null
    }

    import org.apache.spark.sql.catalyst.util.MapData

    private def mapFind(m: MapData, key: UTF8String, vt: DataType): (Boolean, Any) = {
      val keys = m.keyArray()
      val n = m.numElements()
      var i = 0
      while (i < n) {
        if (!keys.isNullAt(i) && keys.getUTF8String(i).equals(key)) {
          val vals = m.valueArray()
          return (true, if (vals.isNullAt(i)) null else vals.get(i, vt))
        }
        i += 1
      }
      (false, null)
    }

    private def propertyCount(dt: DataType): Any => Int = {
      val st = structOf(dt)
      if (st != null) {
        val n = st.length
        v => {
          val row = v.asInstanceOf[InternalRow]
          var c = 0; var i = 0
          while (i < n) { if (!row.isNullAt(i)) c += 1; i += 1 }
          c
        }
      } else if (dt.isInstanceOf[MapType]) {
        v => v.asInstanceOf[MapData].numElements()
      } else _ => 0
    }

    /** Presence of a property: missing ≡ NULL for closed structs
      * (SURVEY.md §7.4.1; a statically-absent column is always undefined);
      * key-presence for open maps (exact undefined ≠ null distinction). */
    private def presence(dt: DataType, name: String): Any => Boolean = {
      val st = structOf(dt)
      if (st != null) {
        st.fieldNames.indexOf(name) match {
          case -1 => _ => false
          case i  => v => !v.asInstanceOf[InternalRow].isNullAt(i)
        }
      } else mapValueType(dt) match {
        case null => _ => false
        case vt =>
          val key = UTF8String.fromString(name)
          v => mapFind(v.asInstanceOf[MapData], key, vt)._1
      }
    }

    private def kRequired(schema: JObj, dt: DataType): Option[Ev] = {
      if (structOf(dt) == null && mapValueType(dt) == null) return None
      val required = schema.arr("required").getOrElse(return None)
        .collect { case JStr(s) => s }
      val props = schema.obj("properties")
      def hasObjectSubSchema(name: String): Boolean =
        props.flatMap(_.get(name)).exists(_.isInstanceOf[JObj])
      val checks = required.filterNot(hasObjectSubSchema).map { name =>
        val present = presence(dt, name)
        val m = messageFor(schema, "required", Some(name)).orNull
        new Ev {
          def eval(v: Any, path: String, out: ErrBuf): Unit =
            if (!present(v)) out.push(childPath(path, name), "required", m)
        }
      }
      if (checks.isEmpty) None else Some(seq(checks))
    }

    private def fieldGetter(st: StructType, name: String): (Int, DataType) = {
      val i = st.fieldNames.indexOf(name)
      (i, if (i >= 0) st.fields(i).dataType else NullType)
    }

    private def kProperties(schema: JObj, dt: DataType, stack: Stack): Option[Ev] = {
      val st = structOf(dt)
      val vt = mapValueType(dt)
      if (st == null && vt == null) return None
      val props = schema.obj("properties").getOrElse(return None)
      if (props.fields.isEmpty) return None
      val required = schema.arr("required").getOrElse(Vector.empty)
        .collect { case JStr(s) => s }.toSet

      val parts = props.fields.map { case (name, sub) =>
        val requiredMsg =
          if (required.contains(name)) Some(messageFor(schema, "required", Some(name)).orNull)
          else None
        if (st != null) {
          val (idx, fdt) = fieldGetter(st, name)
          if (idx < 0) {
            // column absent from the row schema: always undefined
            requiredMsg match {
              case Some(m) => new Ev {
                def eval(v: Any, path: String, out: ErrBuf): Unit =
                  out.push(childPath(path, name), "required", m)
              }
              case None => PassEv
            }
          } else {
            val sub2 = generate(sub, fdt, knownNonNull = true, stack)
            new Ev {
              def eval(v: Any, path: String, out: ErrBuf): Unit = {
                val row = v.asInstanceOf[InternalRow]
                if (!row.isNullAt(idx))
                  sub2.eval(row.get(idx, fdt), childPath(path, name), out)
                else requiredMsg.foreach(m =>
                  out.push(childPath(path, name), "required", m))
              }
            }
          }
        } else {
          // open map: presence = key present; value may be a present null
          val key = UTF8String.fromString(name)
          val sub2 = generate(sub, vt, knownNonNull = false, stack)
          new Ev {
            def eval(v: Any, path: String, out: ErrBuf): Unit = {
              val (present, value) = mapFind(v.asInstanceOf[MapData], key, vt)
              if (present) sub2.eval(value, childPath(path, name), out)
              else requiredMsg.foreach(m =>
                out.push(childPath(path, name), "required", m))
            }
          }
        }
      }
      Some(seq(parts))
    }

    private def kPatternAndAdditional(schema: JObj, dt: DataType, stack: Stack): Option[Ev] = {
      val st = structOf(dt)
      val vt = mapValueType(dt)
      if (st == null && vt == null) return None
      val patterns: Vector[(String, JValue)] =
        schema.obj("patternProperties").map(_.fields).getOrElse(Vector.empty)
      val addProps: Option[Either[Boolean, JObj]] = schema.get("additionalProperties") match {
        case Some(JBool(b)) => Some(Left(b))
        case Some(o: JObj)  => Some(Right(o))
        case _              => None
      }
      val addPropsCheck = addProps.exists {
        case Left(allow) => !allow
        case Right(_)    => true
      }
      if (patterns.isEmpty && !addPropsCheck) return None
      val declared: Set[String] =
        schema.obj("properties").map(_.keys.toSet).getOrElse(Set.empty)

      if (st == null) return Some(
        mapPatternAndAdditional(schema, vt, patterns, addProps, addPropsCheck,
          declared, stack))

      val parts = st.fields.toVector.zipWithIndex.flatMap { case (f, idx) =>
        val key = f.name
        val matched = patterns.filter { case (p, _) =>
          java.util.regex.Pattern.compile(JsRegex.toJava(p)).matcher(key).find()
        }
        val patParts: Vector[Ev] = matched.map { case (_, sub) =>
          val sub2 = generate(sub, f.dataType, knownNonNull = false, stack)
          new Ev {
            def eval(v: Any, path: String, out: ErrBuf): Unit = {
              val row = v.asInstanceOf[InternalRow]
              if (!row.isNullAt(idx))
                sub2.eval(row.get(idx, f.dataType), childPath(path, key), out)
            }
          }
        }
        val addPart: Vector[Ev] =
          if (!addPropsCheck || declared.contains(key) || matched.nonEmpty) Vector.empty
          else addProps match {
            case Some(Left(false)) =>
              val m = messageFor(schema, "additionalProperties", None).orNull
              Vector(new Ev {
                def eval(v: Any, path: String, out: ErrBuf): Unit =
                  if (!v.asInstanceOf[InternalRow].isNullAt(idx))
                    out.push(path, "additionalProperties", m, UTF8String.fromString(key))
              })
            case Some(Right(sub)) =>
              val sub2 = generate(sub, f.dataType, knownNonNull = false, stack)
              Vector(new Ev {
                def eval(v: Any, path: String, out: ErrBuf): Unit = {
                  val row = v.asInstanceOf[InternalRow]
                  if (!row.isNullAt(idx))
                    sub2.eval(row.get(idx, f.dataType), childPath(path, key), out)
                }
              })
            case _ => Vector.empty
          }
        patParts ++ addPart
      }
      if (parts.isEmpty) None else Some(seq(parts))
    }

    /** Open-map twin of the struct branch above: one pass over the map
      * entries, patterns matched at runtime (jsen.js:303-378 fused
      * generator over Object.keys). */
    private def mapPatternAndAdditional(schema: JObj, vt: DataType,
                                        patterns: Vector[(String, JValue)],
                                        addProps: Option[Either[Boolean, JObj]],
                                        addPropsCheck: Boolean,
                                        declared: Set[String],
                                        stack: Stack): Ev = {
      val pats = patterns.map { case (p, sub) =>
        (java.util.regex.Pattern.compile(JsRegex.toJava(p)),
          generate(sub, vt, knownNonNull = false, stack))
      }
      val addMsg = messageFor(schema, "additionalProperties", None).orNull
      val addSub: Option[Ev] = addProps match {
        case Some(Right(sub)) => Some(generate(sub, vt, knownNonNull = false, stack))
        case _ => None
      }
      val addFalse = addProps.contains(Left(false)) && addPropsCheck
      new Ev {
        def eval(v: Any, path: String, out: ErrBuf): Unit = {
          val m = v.asInstanceOf[MapData]
          val keys = m.keyArray(); val vals = m.valueArray()
          val n = m.numElements()
          var i = 0
          while (i < n && !out.stopped) {
            val keyU = if (keys.isNullAt(i)) null else keys.getUTF8String(i)
            val key = if (keyU == null) "" else keyU.toString
            val value = if (vals.isNullAt(i)) null else vals.get(i, vt)
            var anyMatch = false
            var p = 0
            while (p < pats.length && !out.stopped) {
              if (pats(p)._1.matcher(key).find()) {
                anyMatch = true
                pats(p)._2.eval(value, childPath(path, key), out)
              }
              p += 1
            }
            if (!out.stopped && addPropsCheck && !anyMatch && !declared.contains(key)) {
              if (addFalse)
                out.push(path, "additionalProperties", addMsg,
                  UTF8String.fromString(key))
              else addSub.foreach(_.eval(value, childPath(path, key), out))
            }
            i += 1
          }
        }
      }
    }

    private def kDependencies(schema: JObj, dt: DataType, stack: Stack): Option[Ev] = {
      if (structOf(dt) == null && mapValueType(dt) == null) return None
      val deps = schema.obj("dependencies").getOrElse(return None)
      val parts = deps.fields.map {
        case (key, depSchema: JObj) =>
          val present = presence(dt, key)
          val sub = generate(depSchema, dt, knownNonNull = false, stack)
          new Ev {
            def eval(v: Any, path: String, out: ErrBuf): Unit =
              if (present(v)) sub.eval(v, path, out)
          }
        case (key, JArr(names)) =>
          val present = presence(dt, key)
          val checks = names.collect { case JStr(d) =>
            val dp = presence(dt, d)
            val m = messageFor(schema, "dependencies", Some(d)).orNull
            new Ev {
              def eval(v: Any, path: String, out: ErrBuf): Unit =
                if (!dp(v)) out.push(childPath(path, d), "dependencies", m)
            }
          }
          val inner = seq(checks)
          new Ev {
            def eval(v: Any, path: String, out: ErrBuf): Unit =
              if (present(v)) inner.eval(v, path, out)
          }
        case _ => PassEv
      }
      Some(seq(parts))
    }

    // ---- combinators (speculative validation + rollback) ------------------

    private def branchErrs(b: Ev, v: Any, path: String): ErrBuf = {
      val scratch = new ErrBuf(greedy = true)
      b.eval(v, path, scratch)
      scratch
    }

    private def kAnyOf(schema: JObj, subs: Vector[JValue], dt: DataType,
                       knownNonNull: Boolean, stack: Stack): Ev = {
      val branches = subs.map(generate(_, dt, knownNonNull, stack)).toArray
      val msg = messageFor(schema, "anyOf", None).orNull
      new Ev {
        def eval(v: Any, path: String, out: ErrBuf): Unit = {
          val scratches = new Array[ErrBuf](branches.length)
          var i = 0
          while (i < branches.length) {
            val s = branchErrs(branches(i), v, path)
            if (s.buf.isEmpty) return // success: roll back every branch error
            scratches(i) = s
            i += 1
          }
          // failure keeps ALL branch errors plus {keyword:'anyOf'}
          scratches.foreach(s => out.buf ++= s.buf)
          out.push(path, "anyOf", msg)
        }
      }
    }

    private def kOneOf(schema: JObj, subs: Vector[JValue], dt: DataType,
                       knownNonNull: Boolean, stack: Stack): Ev = {
      val branches = subs.map(generate(_, dt, knownNonNull, stack)).toArray
      val msg = messageFor(schema, "oneOf", None).orNull
      new Ev {
        def eval(v: Any, path: String, out: ErrBuf): Unit = {
          val scratches = branches.map(branchErrs(_, v, path))
          val matching = scratches.count(_.buf.isEmpty)
          if (matching != 1) {
            scratches.foreach(s => out.buf ++= s.buf)
            out.push(path, "oneOf", msg)
          }
        }
      }
    }

    private def kNot(schema: JObj, sub: JObj, dt: DataType,
                     knownNonNull: Boolean, stack: Stack): Ev = {
      val branch = generate(sub, dt, knownNonNull, stack)
      val msg = messageFor(schema, "not", None).orNull
      new Ev {
        def eval(v: Any, path: String, out: ErrBuf): Unit =
          if (branchErrs(branch, v, path).buf.isEmpty) out.push(path, "not", msg)
      }
    }
  }
}
