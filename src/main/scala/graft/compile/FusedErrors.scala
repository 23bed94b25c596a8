package graft.compile

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** The error-path expression: evaluates the whole constraint spec against
  * a value in ONE kernel pass (see [[KernelCompiler]]) and returns the
  * jsen-style error array — the engine's only producer of error records.
  * Carries the spec as JSON; the kernel comes from the JVM-wide
  * [[KernelCompiler.compileCached]] cache, so even though the expression
  * is deserialized once per task, the compile (including java.util.regex
  * Pattern compilation) runs once per executor JVM — the same
  * compile-once-run-many shape as the reference's `new Function`
  * validator (lib/func.js:58-65).
  *
  * Always used gated behind the `valid` predicate
  * (`when(valid, empty).otherwise(this)`), so it only runs for violating
  * rows. The driver compiles the kernel eagerly before constructing this
  * expression, so a spec the kernel rejects never reaches an executor.
  */
final case class FusedErrors(
    child: Expression,
    specJson: String,
    greedy: Boolean,
    cfg: KernelCompiler.KernelCfg)
  extends UnaryExpression with KernelCallCodegen {

  override def dataType: DataType = ConstraintCompiler.errorsType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_validate_errors"

  @transient private lazy val kernel: KernelCompiler.Ev =
    KernelCompiler.compileCached(specJson, child.dataType, cfg)

  // the kernel itself validates NULL values (jsen validates null data)
  override def evalBoxed(v: Any): Any = {
    val out = new KernelCompiler.ErrBuf(greedy)
    kernel.eval(v, "", out)
    val n = out.buf.length
    if (n == 0) FusedErrors.emptyResult
    else {
      val rows = new Array[Any](n)
      var i = 0
      while (i < n) {
        val e = out.buf(i)
        rows(i) = InternalRow(
          UTF8String.fromString(e.path),
          UTF8String.fromString(e.keyword),
          if (e.message == null) null else UTF8String.fromString(e.message),
          e.additional)
        i += 1
      }
      new GenericArrayData(rows)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): FusedErrors =
    copy(child = newChild)
}

object FusedErrors {
  private val emptyResult = new GenericArrayData(new Array[Any](0))
}
