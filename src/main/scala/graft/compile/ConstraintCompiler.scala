package graft.compile

import graft.json._
import graft.schema.SchemaResolver
import org.apache.spark.sql.{AnalysisException, Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Options mirroring the reference's `jsen(schema, options)` surface
  * (/root/reference/lib/jsen.js:1045-1089):
  *  - `greedy`: collect all violations instead of stopping at the first
  *    (jsen.js:900-902 — non-greedy emits an early return at every error
  *    site; combinators always run greedily internally and roll back).
  *  - `formats`: custom named formats — a regex source string or an
  *    arbitrary Column predicate of the value alone; custom formats run
  *    for ALL value types and run last (jsen.js:1015-1035,
  *    test/format.js:210-265).
  *  - `schemas`: external registry keyed by id/URI (README.md:205-215).
  *  - `missingRef`: unresolvable $ref ≡ always-pass {} (test/missing.js).
  *
  * The `valid` column is [[ConstraintCompiler]]'s whole-stage-codegen
  * predicate; the `errors` array is always the fused kernel
  * ([[KernelCompiler]]).
  */
final case class ValidatorOptions(
    greedy: Boolean = false,
    formats: Map[String, Either[String, Column => Column]] = Map.empty,
    schemas: Option[JObj] = None,
    missingRef: Boolean = false)

/** Compiles a draft-4 constraint spec into its `valid` Catalyst predicate
  * and wires the fused error kernel behind it.
  *
  * This is the Spark-native analog of the reference's code generator
  * (/root/reference/lib/jsen.js:932-1036): where jsen emits JavaScript
  * source compiled by `new Function` for one instance at a time, we emit a
  * Catalyst `Column` tree evaluated by whole-stage codegen over every row of
  * a DataFrame — schema constants are baked in as literals, so Catalyst
  * constant folding plays the role of V8 specialization.
  *
  * Output contract per instance (row or nested value):
  *   - `valid`:  boolean — analog of `validate(data)`'s return value;
  *   - `errors`: array<struct<path,keyword,message,additionalProperties>>
  *     — analog of `validate.errors` (jsen.js:871-903) with dot-delimited
  *     paths and numeric array indices ("tokens.3"), produced by the
  *     [[KernelCompiler]] kernel ([[FusedErrors]]) for invalid rows only.
  *
  * Missing-vs-null contract (SURVEY.md §7.4.1): for closed StructType data
  * a missing property ≡ NULL (presence test = isNotNull); for open MapType
  * data missing = key absent, preserving jsen's `undefined` ≠ `null`
  * distinction exactly (jsen.js:269,289).
  */
object ConstraintCompiler {

  val errorSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("keyword", StringType),
    StructField("message", StringType),
    StructField("additionalProperties", StringType)))
  val errorsType: ArrayType = ArrayType(errorSchema, containsNull = false)

  /** A value under validation: its column and static Spark type. Values
    * reaching a compile site are always "present" in jsen's sense (the
    * `!== undefined` guard is applied by the parent generator); they may
    * still be SQL NULL (≡ JSON null) in array-element / map-value
    * positions. `knownNonNull` marks values already guarded by a presence
    * check (struct fields under properties, map values under key-presence)
    * so type predicates skip the redundant isNotNull — a tree-size
    * optimization mirroring jsen's fused presence/descend branches. */
  final case class Val(col: Column, dt: DataType, knownNonNull: Boolean = false)

  final case class Compiled(valid: Column, errors: Column)

  /** Compile a constraint spec against a row schema. The resulting columns
    * reference the input columns by name.
    *
    * Column pruning: the fused error kernel takes the row as ONE struct,
    * which would otherwise force the scan to read every column whether
    * or not the spec constrains it (the `valid` tree prunes naturally —
    * Catalyst simplifies struct(...).field back to the column). When the
    * top-level spec uses only per-property keywords (type / properties /
    * required and message/doc keys — no patternProperties, no
    * additionalProperties, no property counting, no enum-of-the-row, no
    * combinators), verdicts depend only on the referenced fields, so the
    * kernel's input struct is narrowed to them and `ReadSchema` stays as
    * small as the fast path's. Anything fancier keeps the full row. */
  def compile(spec: JValue, rowSchema: StructType,
              opts: ValidatorOptions = ValidatorOptions()): Compiled = {
    val schema = prunableFields(spec) match {
      case Some(names) if names.nonEmpty && rowSchema.fields.exists(
          f => !names.contains(f.name)) =>
        StructType(rowSchema.fields.filter(f => names.contains(f.name)))
      case _ => rowSchema
    }
    val rowCol = struct(schema.fieldNames.map(n => col(quoted(n)).as(n)).toSeq: _*)
    compileForValue(spec, rowCol, schema, opts)
  }

  /** The set of top-level fields a spec's verdict can depend on, when
    * that set is statically knowable — None when any keyword may touch
    * unreferenced fields (patternProperties, additionalProperties,
    * min/maxProperties, enum, dependencies, combinators, $ref, ...). */
  private def prunableFields(spec: JValue): Option[Set[String]] = spec match {
    case o: JObj =>
      val inert = Set("type", "properties", "required",
        "title", "description", "invalidMessage", "requiredMessage", "messages")
      if (!o.keys.forall(inert.contains)) None
      else {
        val types = o.get("type") match {
          case Some(JStr(t))  => Seq(t)
          case Some(JArr(ts)) => ts.collect { case JStr(t) => t }
          case _              => Seq("object")
        }
        // a non-object type admission means the row-level type check can
        // fail on its own — conservatively keep the full row (no pruning)
        // rather than reason about which fields the verdict touches
        if (!types.contains("object") && types.nonEmpty) None
        else Some(
          o.obj("properties").map(_.keys.toSet).getOrElse(Set.empty) ++
          o.arr("required").map(_.collect { case JStr(n) => n }.toSet)
            .getOrElse(Set.empty))
      }
    case _ => None
  }

  /** Compile against an arbitrary value column of a known type. The kernel
    * compiles eagerly on the driver, so a spec the engine cannot validate
    * over `dt` fails here with an IllegalArgumentException, not mid-job;
    * the compile also warms the JVM-wide cache driver-side evaluation
    * reuses. */
  def compileForValue(spec: JValue, value: Column, dt: DataType,
                      opts: ValidatorOptions = ValidatorOptions()): Compiled = {
    val json = Json.render(spec)
    val kcfg = kernelCfg(spec, dt, opts)
    KernelCompiler.compileCached(json, dt, kcfg)
    val resolver = new SchemaResolver(spec, opts.schemas, opts.missingRef)
    val valid = new Ctx(resolver, opts).generate(spec, Val(value, dt), Nil)
    // Hot-path gate: `valid == errors.isEmpty` by construction, and
    // CaseWhen short-circuits per row, so the kernel only runs for invalid
    // rows — on mostly-valid data the greedy path runs at fast-path
    // speed, mirroring jsen's design where the happy path never touches
    // the error buffer (jsen.js:900-902).
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val kernel = ColumnBridge.column(FusedErrors(
      ColumnBridge.expression(value), json, opts.greedy, kcfg))
    val noErrors = typedlit(Seq.empty[(String, String, String, String)]).cast(
      "array<struct<path:string,keyword:string,message:string,additionalProperties:string>>")
    Compiled(valid, when(valid, noErrors).otherwise(kernel))
  }

  private def kernelCfg(spec: JValue, dt: DataType,
                        opts: ValidatorOptions): KernelCompiler.KernelCfg = {
    val base = KernelCompiler.cfgOf(opts)
    val fns = opts.formats.collect { case (name, Right(fn)) => name -> fn }
    if (fns.isEmpty) base
    else KernelCompiler.withFormatPredicates(spec, dt, base,
      (name, t) => formatPredicate(name, fns(name), t))
  }

  /** A Column-function custom format as a bound, analyzed catalyst
    * predicate over ordinal 0 — the embedding the kernel evaluates it in.
    * jsen's custom formats receive only the value, so a function that
    * reads other columns fails analysis and is rejected. */
  private def formatPredicate(name: String, fn: Column => Column,
                              dt: DataType): Expression = {
    def reject(why: String, cause: Throwable = null) = throw new IllegalArgumentException(
      s"graft: custom format '$name' must be a boolean predicate of the value alone: $why", cause)
    val spark = SparkSession.active
    val in = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("value", dt))))
    val analyzed =
      try in.select(fn(in.col("value"))).queryExecution.analyzed
      catch { case e: AnalysisException => reject(e.getMessage, e) }
    ReplaceExpressions(analyzed) match {
      case Project(Seq(Alias(pred, _)), child) =>
        if (pred.dataType != BooleanType) reject(s"returns ${pred.dataType.simpleString}")
        if (!pred.deterministic) reject("non-deterministic")
        BindReferences.bindReference(pred, child.output)
      case other => reject(s"unexpected plan ${other.simpleString(3)}")
    }
  }

  private def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  // --------------------------------------------------------------------
  // keyword machinery (grouping shared with the kernel — see [[Draft4Tables]])
  // --------------------------------------------------------------------

  private val keywordType = Draft4Tables.keywordType
  private val combinators = Draft4Tables.combinators

  private final class Ctx(val resolver: SchemaResolver, val opts: ValidatorOptions) {

    /** Recursion guard for $ref inlining: a (schema-node, DataType) pair
      * revisited with no structural descent means the spec requires
      * unbounded runtime recursion, which a finite row schema cannot
      * satisfy (SURVEY.md §7.4.6). */
    type Stack = List[(JValue, DataType)]

    private def all(parts: Seq[Column]): Column =
      if (parts.isEmpty) lit(true) else parts.reduce(_ && _)

    /** Gate a fragment on a condition: when gate is false/null, the
      * fragment is skipped (valid). */
    private def gated(gate: Column, ok: Column): Column =
      when(gate, ok).otherwise(lit(true))

    /** `when(ok, ...)` treats NULL as false; every `ok` below is
      * three-valued-safe by construction (guards ensure non-null inputs),
      * and a NULL from a user predicate counts as a failure. */
    private def check(ok: Column): Column = coalesce(ok, lit(false))

    def generate(schemaV: JValue, v: Val, stack: Stack): Column = {
      val schema0 = schemaV match {
        case o: JObj => o
        case _       => return lit(true) // type(schema)!=='object' → no code
      }
      // $ref: resolve and inline (compile-time analog of jsen.js:949-962)
      val schema = if (schema0.has("$ref")) {
        val resolved = resolver.resolve(schema0)
        if (stack.exists { case (s, d) => (s.asInstanceOf[AnyRef] eq resolved.asInstanceOf[AnyRef]) && d == v.dt })
          throw new IllegalArgumentException(
            "graft: unbounded recursive $ref cannot be compiled over a finite row schema")
        resolved match {
          case o: JObj => o
          case _       => return lit(true)
        }
      } else schema0
      val stack2 = (schema: JValue, v.dt) :: stack

      // enum short-circuits every other keyword (jsen.js:966-970)
      schema.arr("enum") match {
        case Some(lits) if lits.nonEmpty => return check(lits.map(litEquals(v, _)).reduce(_ || _))
        case _ => ()
      }

      val declaredTypes: Option[List[String]] = schema.get("type") match {
        case Some(JStr(t)) => Some(List(t))
        case Some(JArr(items)) if items.nonEmpty =>
          Some(items.collect { case JStr(t) => t }.toList)
        case _ => None
      }

      // group keywords per decorated type, in schema key order
      // (jsen groupKeywords, jsen.js:541-589)
      val hasPatternProps = schema.obj("patternProperties").isDefined
      val perType = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
      schema.keys.foreach { key =>
        if (key != "enum" && key != "type" && !combinators(key))
          keywordType.get(key).foreach { t =>
            // additionalProperties is fused into the patternProperties
            // generator when both are present (jsen.js:545,577)
            if (!(key == "additionalProperties" && hasPatternProps))
              perType(t) = perType.getOrElse(t, Vector.empty) :+ key
          }
      }

      val parts = Vector.newBuilder[Column]

      // type union check (jsen.js:978-985)
      val typeOk: Option[Column] = declaredTypes.map { ts =>
        ts.map(t => typePred(t, v)).reduce(_ || _)
      }
      typeOk.foreach(ok => parts += check(ok))

      // per-type keyword groups, gated on (type union passed) && (value is
      // that type) — the reference's else-if ladder (jsen.js:987-1003)
      perType.foreach { case (t, kws) =>
        if (!isStaticFalse(t, v.dt)) {
          val pred = typePred(t, v)
          val gate = typeOk.map(_ && pred).getOrElse(pred)
          val groupParts = kws.flatMap(k => keywordValid(k, schema, v, stack2))
          if (groupParts.nonEmpty) parts += gated(gate, all(groupParts))
        }
      }

      // type-independent combinators (jsen.js:1011-1013)
      schema.keys.foreach {
        case "allOf" => schema.arr("allOf").foreach { subs =>
          subs.foreach(sub => parts += generate(sub, v, stack2))
        }
        case "anyOf" => schema.arr("anyOf").foreach { subs =>
          parts += subs.map(generate(_, v, stack2)).reduce(_ || _)
        }
        case "oneOf" => schema.arr("oneOf").foreach { subs =>
          parts += subs.map(generate(_, v, stack2).cast(IntegerType)).reduce(_ + _) === 1
        }
        case "not" => schema.obj("not").foreach { sub =>
          parts += !generate(sub, v, stack2)
        }
        case _ => ()
      }

      // custom formats run last, for all value types (jsen.js:1015-1035)
      schema.str("format").foreach { name =>
        opts.formats.get(name).foreach {
          case Left(regexSrc) => parts += check(v.col.cast(StringType).rlike(JsRegex.toJava(regexSrc)))
          case Right(fn)      => parts += check(fn(v.col))
        }
      }

      all(parts.result())
    }

    // ------------------------------------------------------------------
    // type predicates (jsen.js:51-81), specialized to the static DataType
    // ------------------------------------------------------------------

    private def isNumeric(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _ => false
    }
    private def isIntegral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }

    def typePred(t: String, v: Val): Column = {
      def nn: Column = if (v.knownNonNull) lit(true) else v.col.isNotNull
      t match {
      case "null"    => if (v.knownNonNull) lit(false) else v.col.isNull
      case "boolean" => if (v.dt == BooleanType) nn else lit(false)
      case "string"  => if (v.dt == StringType) nn else lit(false)
      case "number"  => if (isNumeric(v.dt)) nn else lit(false)
      case "integer" =>
        if (isIntegral(v.dt)) nn
        // value test on a float, like jsen's `!(x % 1)` (jsen.js:67-69):
        // 7.0 is an integer; NaN/Infinity pass too (floor is identity and
        // Spark treats NaN = NaN as true).
        else if (isNumeric(v.dt)) nn && v.col === floor(v.col)
        else lit(false)
      case "array"   => v.dt match {
        case _: ArrayType => nn
        case _ => lit(false)
      }
      case "object"  => v.dt match {
        case _: StructType | _: MapType => nn
        case _ => lit(false)
      }
      case "date"    => v.dt match {
        case DateType | TimestampType | TimestampNTZType => nn
        case _ => lit(false)
      }
      // unknown type names compile to the constant true predicate
      // (jsen.js:980-982, test/any.js)
      case _ => lit(true)
      }
    }

    /** Static pruning: group never applies → skip compiling it. */
    private def isStaticFalse(t: String, dt: DataType): Boolean = t match {
      case "boolean" => dt != BooleanType
      case "string"  => dt != StringType
      case "number" | "integer" => !isNumeric(dt)
      case "array"   => !dt.isInstanceOf[ArrayType]
      case "object"  => !(dt.isInstanceOf[StructType] || dt.isInstanceOf[MapType])
      case "date"    => !(dt == DateType || dt == TimestampType || dt == TimestampNTZType)
      case _ => false
    }

    // ------------------------------------------------------------------
    // scalar keywords
    // ------------------------------------------------------------------

    private def numLit(n: BigDecimal): Column =
      if (n.isWhole && n.abs <= BigDecimal(Long.MaxValue)) lit(n.toLongExact) else lit(n.toDouble)

    private def isFloating(dt: DataType): Boolean = dt == FloatType || dt == DoubleType

    def keywordValid(keyword: String, schema: JObj, v: Val, stack: Stack): Option[Column] =
      keyword match {
        // ---- number group (value guaranteed numeric non-null) ----
        case "minimum" => schema.num("minimum").map { m =>
          // fail iff x < min (jsen.js:91-97); NaN comparisons are false in
          // JS → NaN passes; Spark sorts NaN above all → add isnan escape
          val ok0 = !(v.col < numLit(m))
          check(if (isFloating(v.dt)) isnan(v.col) || ok0 else ok0)
        }
        case "exclusiveMinimum" =>
          // modifier: only with boolean true AND numeric minimum
          // (jsen.js:99-105, draft-4 boolean form)
          (schema.bool("exclusiveMinimum"), schema.num("minimum")) match {
            case (Some(true), Some(m)) => Some(check(!(v.col === numLit(m))))
            case _ => None
          }
        case "maximum" => schema.num("maximum").map { m =>
          val ok0 = !(v.col > numLit(m))
          check(if (isFloating(v.dt)) isnan(v.col) || ok0 else ok0)
        }
        case "exclusiveMaximum" =>
          (schema.bool("exclusiveMaximum"), schema.num("maximum")) match {
            case (Some(true), Some(m)) => Some(check(!(v.col === numLit(m))))
            case _ => None
          }
        case "multipleOf" => schema.num("multipleOf").map(kMultipleOf(_, v))

        // ---- string group ----
        case "minLength" => schema.int("minLength").map { n =>
          // Spark length() counts code points, matching ucs2length
          // (/root/reference/lib/ucs2length.js:5-25)
          check(length(v.col) >= lit(n))
        }
        case "maxLength" => schema.int("maxLength").map(n => check(length(v.col) <= lit(n)))
        case "pattern" => schema.str("pattern").map { p =>
          // JS RegExp.test is find-anywhere; rlike is too (jsen.js:157-165)
          check(v.col.rlike(JsRegex.toJava(p)))
        }
        case "format" => schema.str("format").flatMap { name =>
          // built-in formats: strings only (jsen.js:167-175); customs are
          // handled in generate() after all other keywords
          if (opts.formats.contains(name)) None
          else Formats.builtin.get(name).map(re => check(v.col.rlike(re)))
        }

        // ---- array group ----
        case "minItems" => schema.int("minItems").map(n => check(size(v.col) >= lit(n)))
        case "maxItems" => schema.int("maxItems").map(n => check(size(v.col) <= lit(n)))
        case "additionalItems" =>
          (schema.bool("additionalItems"), schema.arr("items")) match {
            case (Some(false), Some(tuple)) => Some(check(size(v.col) <= lit(tuple.length)))
            case _ => None
          }
        case "uniqueItems" => schema.bool("uniqueItems").collect { case true =>
          // deep structural dedup (lib/unique.js) ≡ array_distinct on
          // Spark's structural equality
          check(size(array_distinct(v.col)) === size(v.col))
        }
        case "items" => kItems(schema, v, stack)

        // ---- object group ----
        case "maxProperties" => schema.int("maxProperties").map(n => check(propertyCount(v) <= lit(n)))
        case "minProperties" => schema.int("minProperties").map(n => check(propertyCount(v) >= lit(n)))
        case "required" => kRequired(schema, v)
        case "properties" => kProperties(schema, v, stack)
        case "patternProperties" | "additionalProperties" => kPatternAndAdditional(schema, v, stack)
        case "dependencies" => kDependencies(schema, v, stack)

        case _ => None
      }

    /** multipleOf with the reference's decimal-scaling fix for fractional
      * divisors (jsen.js:123-139): `18.15 % 0.01` must pass. We cast to
      * DecimalType at 2× the divisor's scale — the decimal analog of
      * jsen's round-via-exponent-string trick. */
    private def kMultipleOf(mul: BigDecimal, v: Val): Column = {
      // multipleOf 0: jsen's `x % 0` is NaN, NaN !== 0 → every numeric
      // value fails (jsen.js:123-139). Spark's `%` would THROW
      // REMAINDER_BY_ZERO under ANSI instead — compile the constant.
      if (mul == 0) return lit(false)
      val m = BigDecimal(mul.underlying.stripTrailingZeros())
      val decimals = math.max(0, m.scale)
      if (decimals == 0) check(
        if (isIntegral(v.dt)) v.col % lit(m.toLongExact) === lit(0L)
        else (v.col * lit(1)) % lit(m.toLongExact) === lit(0))
      else {
        val scale = math.min(2 * decimals, 18)
        // decimal inputs: the integer-digit bound is known, so cast to
        // the TIGHTEST sufficient precision — a result precision ≤ 18
        // keeps Spark's Decimal in its compact-long representation (fast
        // codegen arithmetic) instead of Int128/BigDecimal at (38, s).
        // "Sufficient" = the larger of the column's and the DIVISOR's
        // integer digits (the divisor literal is cast into the same
        // type), plus one headroom digit for the HALF_UP round-up carry
        // (99.999 → 100.00). Doubles keep (38, s): range unknown.
        val decT = v.dt match {
          case dt: DecimalType =>
            val divisorIntDigits = math.max(1, m.precision - m.scale)
            val intDigits = math.max(dt.precision - dt.scale, divisorIntDigits) + 1
            DecimalType(math.min(38, intDigits + scale), scale)
          case _ => DecimalType(38, scale)
        }
        // try_cast: out-of-range doubles → NULL → `ok` NULL → invalid
        val scaled = v.col.try_cast(decT)
        check(scaled % lit(m.underlying).cast(decT) === lit(BigDecimal(0).underlying).cast(decT))
      }
    }

    // ------------------------------------------------------------------
    // enum (jsen.js:83-89 + equalAny kernel 680-688, lib/equal.js)
    // ------------------------------------------------------------------

    /** Deep structural equality of a value column against a spec literal,
      * specialized at compile time (the equal kernel, lib/equal.js:28-69).
      * Type-incompatible literals compile to constant false. */
    private def litEquals(v: Val, l: JValue): Column = (l, v.dt) match {
      case (JNull, _) => v.col.isNull
      case (JBool(b), BooleanType) => v.col <=> lit(b)
      case (JNum(n), dt) if isNumeric(dt) =>
        if (n.isWhole) v.col <=> numLit(n) else v.col <=> lit(n.toDouble)
      case (JStr(s), StringType) => v.col <=> lit(s)
      case (JArr(items), ArrayType(et, _)) =>
        if (items.isEmpty) v.col.isNotNull && size(v.col) === 0
        else {
          val elemChecks = items.zipWithIndex.map { case (item, i) =>
            litEquals(Val(get(v.col, lit(i)), et), item)
          }
          v.col.isNotNull && size(v.col) === lit(items.length) && elemChecks.reduce(_ && _)
        }
      case (o: JObj, st: StructType) =>
        // order-insensitive key comparison (lib/equal.js:9-15): closed
        // struct → every declared field must match; object keys not in the
        // struct mean inequality; struct fields absent from the literal
        // must be NULL (missing ≡ NULL contract).
        if (o.keys.exists(k => !st.fieldNames.contains(k))) lit(false)
        else {
          val checks = st.fields.toSeq.map { f =>
            o.get(f.name) match {
              case Some(fv) => litEquals(Val(v.col.getField(f.name), f.dataType), fv)
              case None     => v.col.getField(f.name).isNull
            }
          }
          v.col.isNotNull && checks.foldLeft(lit(true))(_ && _)
        }
      case (o: JObj, MapType(StringType, vt, _)) =>
        val checks = o.fields.map { case (k, fv) =>
          map_contains_key(v.col, lit(k)) &&
            litEquals(Val(try_element_at(v.col, lit(k)), vt), fv)
        }
        v.col.isNotNull && size(v.col) === lit(o.fields.length) &&
          checks.foldLeft(lit(true))(_ && _)
      case _ => lit(false)
    }

    // ------------------------------------------------------------------
    // array descent (items / additionalItems schema form, jsen.js:209-236)
    // ------------------------------------------------------------------

    private def kItems(schema: JObj, v: Val, stack: Stack): Option[Column] = {
      val (et, elemNullable) = v.dt match {
        case ArrayType(t, n) => (t, n)
        case _ => return None
      }
      schema.get("items") match {
        case Some(sub: JObj) =>
          // Fast path: a pure-bounds element schema over non-nullable
          // integral elements compiles to the fused ArrayBoundsCheck —
          // a builtin expression with real doGenCode, unlike higher-order
          // functions which are CodegenFallback and evaluate the lambda
          // interpreted per element. This keeps the hot loop (e.g.
          // token-id bounds over a 10^12-row table) inside whole-stage
          // codegen.
          Some(scalarBoundsValid(sub, et, elemNullable, v.col).getOrElse(
            arrayValid(v.col, x => generate(sub, Val(x, et, knownNonNull = !elemNullable), stack),
              from = 0)))
        case Some(JArr(tuple)) =>
          val positional = tuple.zipWithIndex.map { case (sub, i) =>
            // guarded on arr.length-1 >= i (jsen.js:222): get() is
            // null-safe OOB, but the guard keeps jsen's skip semantics
            gated(size(v.col) - 1 >= lit(i), generate(sub, Val(get(v.col, lit(i)), et), stack))
          }
          val rest = schema.get("additionalItems") match {
            case Some(restSub: JObj) => Vector(arrayValid(v.col,
              x => generate(restSub, Val(x, et, knownNonNull = !elemNullable), stack),
              from = tuple.length))
            case _ => Vector.empty
          }
          Some(all(positional ++ rest))
        case _ => None
      }
    }

    /** Detect an element schema that is nothing but integral bounds and
      * compile it to the fused single-pass [[ArrayBoundsCheck]] codegen
      * expression. Returns None when semantics could diverge
      * (floats/NaN, fractional bounds, extra keywords, enum, combinators,
      * a type excluding integers). */
    private def scalarBoundsValid(sub: JObj, et: DataType, elemNullable: Boolean,
                                  arr: Column): Option[Column] = {
      val integral = et == IntegerType || et == LongType || et == ShortType || et == ByteType
      if (!integral) return None
      val annotations = Set("id", "$schema", "title", "description", "default")
      val boundsKeys = Set("type", "minimum", "maximum",
        "exclusiveMinimum", "exclusiveMaximum")
      if (!sub.keys.forall(k => boundsKeys(k) || annotations(k))) return None
      // declared type must statically admit integral values; a NULL
      // element fails the type check iff a type is declared that
      // excludes null (jsen type ladder, jsen.js:978-1009)
      val typeNames: Option[List[String]] = sub.get("type") match {
        case None => None
        case Some(JStr(t)) => Some(List(t))
        case Some(JArr(ts)) => Some(ts.collect { case JStr(t) => t }.toList)
        case _ => Some(Nil)
      }
      typeNames match {
        case None => ()
        case Some(ts) if ts.exists(t => t == "integer" || t == "number" || t == "any") => ()
        case _ => return None
      }
      val failOnNull = elemNullable && typeNames.exists(!_.contains("null"))
      // fractional bounds change comparison semantics → keep general path
      val loBd = sub.num("minimum"); val hiBd = sub.num("maximum")
      if (loBd.exists(!_.isWhole) || hiBd.exists(!_.isWhole)) return None
      val exMin = sub.bool("exclusiveMinimum").contains(true) && loBd.isDefined
      val exMax = sub.bool("exclusiveMaximum").contains(true) && hiBd.isDefined
      if (loBd.isEmpty && hiBd.isEmpty && !failOnNull) return Some(lit(true))
      import org.apache.spark.sql.graftbridge.ColumnBridge
      Some(ColumnBridge.column(ArrayBoundsCheck(
        ColumnBridge.expression(arr),
        loBd.map(_.toLongExact), hiBd.map(_.toLongExact),
        exMin, exMax, failOnNull)))
    }

    /** Every element from index `from` on is valid. */
    private def arrayValid(arr: Column, elem: Column => Column, from: Int): Column =
      size(filter(
        transform(arr, (x, i) => if (from == 0) elem(x) else gated(i >= lit(from), elem(x))),
        b => !b)) === 0

    // ------------------------------------------------------------------
    // object keywords, specialized per StructType (closed) / MapType (open)
    // ------------------------------------------------------------------

    private def propertyCount(v: Val): Column = v.dt match {
      case st: StructType =>
        // Object.keys counts present keys; missing ≡ NULL for structs
        if (st.isEmpty) lit(0)
        else st.fields.toSeq.map(f => v.col.getField(f.name).isNotNull.cast(IntegerType)).reduce(_ + _)
      case _: MapType => size(v.col)
      case _ => lit(0)
    }

    private def structField(st: StructType, name: String): Option[StructField] =
      st.fields.find(_.name == name)

    /** Presence of a property: missing ≡ NULL for closed structs (a
      * statically-absent column is always undefined); key presence for
      * open maps. */
    private def present(v: Val, name: String): Column = v.dt match {
      case st: StructType =>
        if (structField(st, name).isDefined) v.col.getField(name).isNotNull else lit(false)
      case _: MapType => map_contains_key(v.col, lit(name))
      case _ => lit(false)
    }

    /** required (jsen.js:255-273): names carrying an object sub-schema in
      * `properties` are checked by the properties generator instead. */
    private def kRequired(schema: JObj, v: Val): Option[Column] = {
      val required = schema.arr("required").getOrElse(return None)
        .collect { case JStr(s) => s }
      val props = schema.obj("properties")
      def hasObjectSubSchema(name: String): Boolean =
        props.flatMap(_.get(name)).exists(_.isInstanceOf[JObj])
      val checks = required.filterNot(hasObjectSubSchema).map(n => check(present(v, n)))
      if (checks.isEmpty) None else Some(all(checks))
    }

    /** properties (jsen.js:275-301): presence-guarded descent; absent +
      * required is invalid. */
    private def kProperties(schema: JObj, v: Val, stack: Stack): Option[Column] = {
      val props = schema.obj("properties").getOrElse(return None)
      if (props.fields.isEmpty) return None
      val required = schema.arr("required").getOrElse(Vector.empty)
        .collect { case JStr(s) => s }.toSet

      val parts = props.fields.map { case (name, sub) =>
        val isRequired = required.contains(name)
        val value: Option[Val] = v.dt match {
          case st: StructType => structField(st, name).map(f =>
            Val(v.col.getField(name), f.dataType, knownNonNull = true))
          case MapType(StringType, vt, _) => Some(Val(try_element_at(v.col, lit(name)), vt))
          case _ => None
        }
        value match {
          case Some(x) =>
            val isPresent = present(v, name)
            val descend = gated(isPresent, generate(sub, x, stack))
            if (isRequired) descend && check(isPresent) else descend
          // column absent from the row schema: always undefined
          case None => if (isRequired && v.dt.isInstanceOf[StructType]) lit(false) else lit(true)
        }
      }
      Some(all(parts))
    }

    /** patternProperties + additionalProperties, fused like the reference's
      * single generator (jsen.js:303-378). For closed StructType data the
      * key set is static, so pattern matching happens at compile time; for
      * MapType it is a single pass over map_entries. */
    private def kPatternAndAdditional(schema: JObj, v: Val, stack: Stack): Option[Column] = {
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

      v.dt match {
        case st: StructType =>
          val parts = st.fields.toVector.flatMap { f =>
            val key = f.name
            val fieldCol = v.col.getField(key)
            val isPresent = fieldCol.isNotNull
            val matched = patterns.filter { case (p, _) =>
              java.util.regex.Pattern.compile(JsRegex.toJava(p)).matcher(key).find()
            }
            val patParts = matched.map { case (_, sub) =>
              gated(isPresent, generate(sub, Val(fieldCol, f.dataType), stack))
            }
            val addPart: Vector[Column] =
              if (!addPropsCheck || declared.contains(key) || matched.nonEmpty) Vector.empty
              else addProps match {
                case Some(Left(false)) => Vector(gated(isPresent, lit(false)))
                case Some(Right(sub)) =>
                  Vector(gated(isPresent, generate(sub, Val(fieldCol, f.dataType), stack)))
                case _ => Vector.empty
              }
            patParts ++ addPart
          }
          if (parts.isEmpty) None else Some(all(parts))

        case MapType(StringType, vt, _) =>
          def entryValid(key: Column, value: Column): Column = {
            val patParts = patterns.map { case (p, sub) =>
              gated(key.rlike(JsRegex.toJava(p)), generate(sub, Val(value, vt), stack))
            }
            val addPart: Vector[Column] = if (!addPropsCheck) Vector.empty else {
              val anyMatch =
                if (patterns.isEmpty) lit(false)
                else patterns.map { case (p, _) => key.rlike(JsRegex.toJava(p)) }.reduce(_ || _)
              val isDeclared =
                if (declared.isEmpty) lit(false) else key.isin(declared.toSeq: _*)
              val gate = !anyMatch && !isDeclared
              addProps match {
                case Some(Left(false)) => Vector(gated(gate, lit(false)))
                case Some(Right(sub)) => Vector(gated(gate, generate(sub, Val(value, vt), stack)))
                case _ => Vector.empty
              }
            }
            all(patParts ++ addPart)
          }
          Some(size(filter(
            transform(map_entries(v.col), e => entryValid(e.getField("key"), e.getField("value"))),
            b => !b)) === 0)

        case _ => None
      }
    }

    /** dependencies (jsen.js:380-410): property form and schema form. */
    private def kDependencies(schema: JObj, v: Val, stack: Stack): Option[Column] = {
      val deps = schema.obj("dependencies").getOrElse(return None)
      val parts = deps.fields.map {
        case (key, depSchema: JObj) => gated(present(v, key), generate(depSchema, v, stack))
        case (key, JArr(names)) =>
          gated(present(v, key), all(names.collect { case JStr(d) => check(present(v, d)) }))
        case _ => lit(true)
      }
      Some(all(parts))
    }
  }
}
