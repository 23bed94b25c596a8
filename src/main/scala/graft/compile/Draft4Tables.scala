package graft.compile

import graft.json.{JObj, JValue}
import graft.schema.SchemaResolver

/** Draft-4 keyword tables shared by the `valid` predicate compiler
  * ([[ConstraintCompiler]]) and the error kernel ([[KernelCompiler]]):
  * both group keywords identically, so the grouping lives in ONE place —
  * a keyword added or regrouped here changes both together. Error
  * messages only exist on the kernel side.
  */
private[compile] object Draft4Tables {

  /** Keyword → decorated type, as the reference's decorateGenerator table
    * (/root/reference/lib/jsen.js:524-539). Combinators carry no type. */
  val keywordType: Map[String, String] = Map(
    "minimum" -> "number", "exclusiveMinimum" -> "number",
    "maximum" -> "number", "exclusiveMaximum" -> "number",
    "multipleOf" -> "number",
    "minLength" -> "string", "maxLength" -> "string",
    "pattern" -> "string", "format" -> "string",
    "minItems" -> "array", "maxItems" -> "array",
    "additionalItems" -> "array", "uniqueItems" -> "array", "items" -> "array",
    "maxProperties" -> "object", "minProperties" -> "object",
    "required" -> "object", "properties" -> "object",
    "patternProperties" -> "object", "additionalProperties" -> "object",
    "dependencies" -> "object")

  val combinators: Set[String] = Set("allOf", "anyOf", "oneOf", "not")

  /** Custom error messages, resolved per error site at compile time
    * (jsen.js:871-903): requiredMessage from the property's schema,
    * invalidMessage from the emitting schema, then messages[keyword]
    * fallbacks. */
  def messageFor(resolver: SchemaResolver, schema: JObj, keyword: String,
                 key: Option[String]): Option[String] = {
    val res: Option[JObj] = key.flatMap { k =>
      schema.obj("properties").flatMap(_.get(k)).map(resolver.resolve).collect {
        case o: JObj => o
      }
    }
    val primary =
      if (res.isDefined) res.flatMap(_.str("requiredMessage"))
      else schema.str("invalidMessage")
    primary.orElse {
      res.flatMap(_.obj("messages")).flatMap(_.str(keyword))
        .orElse(schema.obj("messages").flatMap(_.str(keyword)))
    }
  }
}
