package graft

import graft.compile.{Formats, JsRegex}
import graft.json._
import graft.schema.SchemaResolver
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Slow interpreted oracle of the reference's validation semantics
  * (/root/reference/lib/jsen.js:932-1036), evaluated directly over JValue
  * instances — the reference the parity suites (Draft4OfficialSpec,
  * CompilerFuzzSpec, PropertySpec, KernelParitySpec) compare the engine's
  * `valid` column and error records against. Written from the
  * reference's generate()/keyword semantics, not from either compiler, so
  * translation bugs (null handling, decimal scaling, traversal order)
  * surface as disagreements.
  *
  * Records are exact: jsen's traversal order (type, then keyword groups
  * per decorated type in schema key order, then combinators in key
  * order, then custom formats), the custom `message` (jsen.js:871-903)
  * and the `additionalProperties` key. Every error site emits one GROUP:
  * a single record, or a failed combinator's branch records plus its
  * own. Greedy mode returns every group; first-error mode returns the
  * first one (jsen's `return` after the first error site, with
  * combinator branches always run greedily and rolled back).
  *
  * Instance encoding: a *missing* property is an absent key (undefined);
  * JNull is a present null. Feed it the value decoded back from the
  * Spark row ([[decode]]), so the oracle and the engine see the same
  * instance (a NULL struct field is missing, a NULL map value present).
  */
object SpecOracle {

  final case class Err(path: String, keyword: String, message: String = null,
                       additionalProperties: String = null) {
    def tuple: (String, String, String, String) = (path, keyword, message, additionalProperties)
  }

  /** `formats`: custom regex formats by name, applied to the value's
    * string form (SQL NULL never matches). */
  def validate(spec: JValue, instance: JValue, greedy: Boolean = true,
               formats: Map[String, String] = Map.empty,
               schemas: Option[JObj] = None): (Boolean, Vector[Err]) = {
    val groups = new Run(new SchemaResolver(spec, schemas), formats).gen(spec, instance, "")
    (groups.isEmpty, if (greedy) groups.flatten else groups.headOption.getOrElse(Vector.empty))
  }

  /** A Spark row value (as `Row.get` returns it) → the JSON instance it
    * carries. Dates, timestamps and binary have no JSON form. */
  def decode(value: Any, dt: DataType): JValue = (value, dt) match {
    case (null, _) => JNull
    case (b: Boolean, _) => JBool(b)
    case (s: String, _) => JStr(s)
    case (n: Byte, _) => JNum(BigDecimal(n.toInt))
    case (n: Short, _) => JNum(BigDecimal(n.toInt))
    case (n: Int, _) => JNum(BigDecimal(n))
    case (n: Long, _) => JNum(BigDecimal(n))
    case (f: Float, _) => JNum(BigDecimal.decimal(f))
    case (d: Double, _) => JNum(BigDecimal(d))
    case (d: java.math.BigDecimal, _) => JNum(BigDecimal(d))
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) => JArr(xs.map(decode(_, et)).toVector)
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      JObj(m.toVector.map { case (k, x) => k.toString -> decode(x, vt) })
    case (r: Row, st: StructType) =>
      JObj(st.fields.toVector.zipWithIndex.collect {
        case (f, i) if !r.isNullAt(i) => f.name -> decode(r.get(i), f.dataType)
      })
    case _ => throw new IllegalArgumentException(
      s"no JSON form for ${dt.simpleString} value $value")
  }

  private type Groups = Vector[Vector[Err]]

  private def typeMatches(t: String, v: JValue): Boolean = t match {
    case "null" => v == JNull
    case "boolean" => v.isInstanceOf[JBool]
    case "string" => v.isInstanceOf[JStr]
    case "number" => v.isInstanceOf[JNum]
    case "integer" => v match { case n: JNum => n.value.isWhole; case _ => false }
    case "array" => v.isInstanceOf[JArr]
    case "object" => v.isInstanceOf[JObj]
    case "date" => false
    case _ => true // unknown type names always match
  }

  private val numberKws = Vector("minimum", "exclusiveMinimum", "maximum",
    "exclusiveMaximum", "multipleOf")
  private val stringKws = Vector("minLength", "maxLength", "pattern", "format")
  private val arrayKws = Vector("minItems", "maxItems", "additionalItems",
    "uniqueItems", "items")
  private val objectKws = Vector("maxProperties", "minProperties", "required",
    "properties", "patternProperties", "additionalProperties", "dependencies")
  private val kwType: Map[String, String] =
    (numberKws.map(_ -> "number") ++ stringKws.map(_ -> "string") ++
     arrayKws.map(_ -> "array") ++ objectKws.map(_ -> "object")).toMap

  private def join(path: String, seg: String): String =
    if (path.isEmpty) seg else s"$path.$seg"

  private def matches(regex: String, s: String): Boolean =
    java.util.regex.Pattern.compile(JsRegex.toJava(regex)).matcher(s).find()

  private final class Run(resolver: SchemaResolver, formats: Map[String, String]) {

    /** jsen's error(): requiredMessage of the named property's schema, or
      * the emitting schema's invalidMessage, then messages[keyword] of
      * either. */
    private def err(schema: JObj, path: String, keyword: String,
                    key: Option[String] = None, additional: String = null): Vector[Err] = {
      val prop = key.flatMap(k => schema.obj("properties").flatMap(_.get(k)))
        .map(resolver.resolve).collect { case o: JObj => o }
      val message =
        (if (prop.isDefined) prop.flatMap(_.str("requiredMessage")) else schema.str("invalidMessage"))
          .orElse(prop.flatMap(_.obj("messages")).flatMap(_.str(keyword)))
          .orElse(schema.obj("messages").flatMap(_.str(keyword)))
      val at = key.map(join(path, _)).getOrElse(path)
      Vector(Err(at, keyword, message.orNull, additional))
    }

    def gen(schemaV: JValue, v: JValue, path: String): Groups = {
      val schema = schemaV match {
        case o: JObj => resolver.resolve(o) match { case r: JObj => r; case _ => return Vector.empty }
        case _ => return Vector.empty
      }

      // enum short-circuit (jsen.js:966-970)
      schema.arr("enum") match {
        case Some(lits) if lits.nonEmpty =>
          return if (lits.exists(deepEqual(_, v))) Vector.empty else Vector(err(schema, path, "enum"))
        case _ => ()
      }

      val declared: Option[List[String]] = schema.get("type") match {
        case Some(JStr(t)) => Some(List(t))
        case Some(JArr(is)) if is.nonEmpty => Some(is.collect { case JStr(t) => t }.toList)
        case _ => None
      }

      val perType = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
      val hasPat = schema.obj("patternProperties").isDefined
      schema.keys.foreach { k =>
        if (k != "enum" && k != "type") kwType.get(k).foreach { t =>
          if (!(k == "additionalProperties" && hasPat))
            perType(t) = perType.getOrElse(t, Vector.empty) :+ k
        }
      }

      val out = Vector.newBuilder[Vector[Err]]
      // the type ladder: a type error replaces every keyword group
      // (jsen.js:978-1009)
      if (!declared.forall(_.exists(typeMatches(_, v)))) out += err(schema, path, "type")
      else perType.foreach { case (t, kws) =>
        if (typeMatches(t, v)) kws.foreach(kw => out ++= keyword(kw, schema, v, path))
      }

      // combinators run after the ladder, unconditionally, in key order;
      // branches run greedily and roll back (jsen.js:412-519)
      schema.keys.foreach {
        case "allOf" => schema.arr("allOf").foreach(_.foreach(sub => out ++= gen(sub, v, path)))
        case "anyOf" => schema.arr("anyOf").foreach { subs =>
          val failed = Vector.newBuilder[Err]
          // stops at the first passing branch
          val found = subs.exists { sub =>
            val e = gen(sub, v, path).flatten
            failed ++= e
            e.isEmpty
          }
          if (!found) out += failed.result() ++ err(schema, path, "anyOf")
        }
        case "oneOf" => schema.arr("oneOf").foreach { subs =>
          val branches = subs.map(gen(_, v, path).flatten)
          if (branches.count(_.isEmpty) != 1) out += branches.flatten ++ err(schema, path, "oneOf")
        }
        case "not" => schema.obj("not").foreach { sub =>
          if (gen(sub, v, path).isEmpty) out += err(schema, path, "not")
        }
        case _ => ()
      }

      // custom formats run last, for every value type (jsen.js:1015-1035)
      schema.str("format").foreach { name =>
        formats.get(name).foreach { re =>
          if (!stringForm(v).exists(matches(re, _))) out += err(schema, path, "format")
        }
      }
      out.result()
    }

    /** A scalar's string form, as `cast(value AS STRING)` renders it. */
    private def stringForm(v: JValue): Option[String] = v match {
      case JNull => None
      case JStr(s) => Some(s)
      case JBool(b) => Some(b.toString)
      case JNum(n) => Some(n.bigDecimal.toString)
      case other => throw new IllegalArgumentException(
        s"custom formats over ${other.typeName} values are not modeled")
    }

    private def keyword(kw: String, schema: JObj, v: JValue, path: String): Groups = {
      def num = v.asInstanceOf[JNum].value
      def fail(keyword: String): Groups = Vector(err(schema, path, keyword))
      def when(bad: Boolean, keyword: String): Groups = if (bad) fail(keyword) else Vector.empty
      kw match {
        case "minimum" => schema.num("minimum").map(m => when(num < m, "minimum")).getOrElse(Vector.empty)
        case "exclusiveMinimum" =>
          (schema.bool("exclusiveMinimum"), schema.num("minimum")) match {
            case (Some(true), Some(m)) => when(num == m, "exclusiveMinimum")
            case _ => Vector.empty
          }
        case "maximum" => schema.num("maximum").map(m => when(num > m, "maximum")).getOrElse(Vector.empty)
        case "exclusiveMaximum" =>
          (schema.bool("exclusiveMaximum"), schema.num("maximum")) match {
            case (Some(true), Some(m)) => when(num == m, "exclusiveMaximum")
            case _ => Vector.empty
          }
        case "multipleOf" => schema.num("multipleOf").map { mul =>
          // jsen.js:123-139: a divisor with d decimals first rounds the
          // value to 2d decimals (so 18.15 is a multiple of 0.01); x % 0
          // is NaN, which never passes
          val d = math.max(0, mul.bigDecimal.stripTrailingZeros.scale)
          val x = if (d == 0) num else num.setScale(2 * d, BigDecimal.RoundingMode.HALF_UP)
          when(mul == 0 || x.remainder(mul) != 0, "multipleOf")
        }.getOrElse(Vector.empty)
        case "minLength" => schema.int("minLength").map(n => when(codePoints(v) < n, "minLength"))
          .getOrElse(Vector.empty)
        case "maxLength" => schema.int("maxLength").map(n => when(codePoints(v) > n, "maxLength"))
          .getOrElse(Vector.empty)
        case "pattern" => schema.str("pattern")
          .map(p => when(!matches(p, v.asInstanceOf[JStr].value), "pattern")).getOrElse(Vector.empty)
        case "format" => schema.str("format").filterNot(formats.contains)
          .flatMap(Formats.builtin.get)
          .map(re => when(re.r.findFirstIn(v.asInstanceOf[JStr].value).isEmpty, "format"))
          .getOrElse(Vector.empty)
        case "minItems" => schema.int("minItems")
          .map(n => when(v.asInstanceOf[JArr].items.length < n, "minItems")).getOrElse(Vector.empty)
        case "maxItems" => schema.int("maxItems")
          .map(n => when(v.asInstanceOf[JArr].items.length > n, "maxItems")).getOrElse(Vector.empty)
        case "additionalItems" =>
          (schema.bool("additionalItems"), schema.arr("items")) match {
            case (Some(false), Some(tuple)) =>
              when(v.asInstanceOf[JArr].items.length > tuple.length, "additionalItems")
            case _ => Vector.empty
          }
        case "uniqueItems" =>
          val items = v.asInstanceOf[JArr].items
          val dup = items.indices.exists(i => items.indices.exists(j => j > i && deepEqual(items(i), items(j))))
          when(schema.bool("uniqueItems").contains(true) && dup, "uniqueItems")
        case "items" =>
          val items = v.asInstanceOf[JArr].items
          schema.get("items") match {
            case Some(sub: JObj) =>
              items.zipWithIndex.flatMap { case (x, i) => gen(sub, x, join(path, i.toString)) }
            case Some(JArr(tuple)) =>
              val positional = tuple.zipWithIndex.flatMap { case (sub, i) =>
                if (items.length - 1 >= i) gen(sub, items(i), join(path, i.toString)) else Vector.empty
              }
              val rest = schema.get("additionalItems") match {
                case Some(restSub: JObj) =>
                  (tuple.length until items.length).toVector
                    .flatMap(i => gen(restSub, items(i), join(path, i.toString)))
                case _ => Vector.empty
              }
              positional ++ rest
            case _ => Vector.empty
          }
        case "maxProperties" => schema.int("maxProperties")
          .map(n => when(v.asInstanceOf[JObj].fields.length > n, "maxProperties")).getOrElse(Vector.empty)
        case "minProperties" => schema.int("minProperties")
          .map(n => when(v.asInstanceOf[JObj].fields.length < n, "minProperties")).getOrElse(Vector.empty)
        case "required" => schema.arr("required").map { req =>
          // names with an object sub-schema are reported by `properties`
          val obj = v.asInstanceOf[JObj]
          val props = schema.obj("properties")
          req.collect { case JStr(name) => name }.flatMap { name =>
            val hasSub = props.flatMap(_.get(name)).exists(_.isInstanceOf[JObj])
            if (!hasSub && !obj.has(name)) Vector(err(schema, path, "required", Some(name)))
            else Vector.empty
          }
        }.getOrElse(Vector.empty)
        case "properties" => schema.obj("properties").map { props =>
          val obj = v.asInstanceOf[JObj]
          val required = schema.arr("required").getOrElse(Vector.empty)
            .collect { case JStr(s) => s }.toSet
          props.fields.flatMap { case (name, sub) =>
            obj.get(name) match {
              case Some(x) => gen(sub, x, join(path, name))
              case None =>
                if (required.contains(name)) Vector(err(schema, path, "required", Some(name)))
                else Vector.empty
            }
          }
        }.getOrElse(Vector.empty)
        case "patternProperties" | "additionalProperties" =>
          val obj = v.asInstanceOf[JObj]
          val patterns = schema.obj("patternProperties").map(_.fields).getOrElse(Vector.empty)
          val addProps = schema.get("additionalProperties")
          val addCheck = addProps.exists {
            case JBool(false) => true
            case _: JObj => true
            case _ => false
          }
          if (patterns.isEmpty && !addCheck) Vector.empty
          else {
            val declared = schema.obj("properties").map(_.keys.toSet).getOrElse(Set.empty)
            obj.fields.flatMap { case (key, value) =>
              val matched = patterns.filter { case (p, _) => matches(p, key) }
              val patErrs = matched.flatMap { case (_, sub) => gen(sub, value, join(path, key)) }
              val addErrs =
                if (!addCheck || declared.contains(key) || matched.nonEmpty) Vector.empty
                else addProps match {
                  case Some(JBool(false)) =>
                    Vector(err(schema, path, "additionalProperties", additional = key))
                  case Some(sub: JObj) => gen(sub, value, join(path, key))
                  case _ => Vector.empty
                }
              patErrs ++ addErrs
            }
          }
        case "dependencies" => schema.obj("dependencies").map { deps =>
          val obj = v.asInstanceOf[JObj]
          deps.fields.flatMap {
            case (key, dep: JObj) => if (obj.has(key)) gen(dep, v, path) else Vector.empty
            case (key, JArr(names)) =>
              if (!obj.has(key)) Vector.empty
              else names.collect { case JStr(d) if !obj.has(d) => err(schema, path, "dependencies", Some(d)) }
            case _ => Vector.empty
          }
        }.getOrElse(Vector.empty)
        case _ => Vector.empty
      }
    }
  }

  private def codePoints(v: JValue): Int =
    v.asInstanceOf[JStr].value.codePointCount(0, v.asInstanceOf[JStr].value.length)

  /** Deep structural equality (lib/equal.js:28-69): arrays ordered,
    * object key sets compared order-insensitively. */
  def deepEqual(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JNull, JNull) => true
    case (JBool(x), JBool(y)) => x == y
    case (JNum(x), JNum(y)) => x == y
    case (JStr(x), JStr(y)) => x == y
    case (JArr(xs), JArr(ys)) =>
      xs.length == ys.length && xs.zip(ys).forall { case (x, y) => deepEqual(x, y) }
    case (x: JObj, y: JObj) =>
      x.keys.toSet == y.keys.toSet &&
        x.keys.forall(k => deepEqual(x(k), y(k)))
    case _ => false
  }
}
