package graft.sketch

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType}

/** `kll_sketch(col, k)` — aggregates a numeric column into a serialized
  * [[KllSketch]] (BinaryType). A `TypedImperativeAggregate`, so Spark runs
  * it with partial (map-side) aggregation: each task updates a local
  * sketch, the shuffle carries one ~KB blob per group per task, and merge
  * happens on the reducer — the same partial/final split as the built-in
  * HLL++ (`approx_count_distinct`). The binary output is what makes drift
  * profiles persistable and resumable (north-star requirement): written to
  * the checkpoint table it can be merged with later runs' sketches without
  * touching the original 10^12 rows.
  */
final case class KllSketchAgg(
    child: Expression,
    k: Int = KllSketch.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllSketch]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kll_sketch requires double input (cast first), got ${other.simpleString}")
    }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_sketch"

  override def createAggregationBuffer(): KllSketch = KllSketch.empty(k)

  override def update(buffer: KllSketch, input: InternalRow): KllSketch = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: KllSketch, other: KllSketch): KllSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KllSketch): Any = buffer.serialize()
  override def serialize(buffer: KllSketch): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
}

/** `kll_quantiles(sketch, probs)` — scalar: deserialize a sketch blob and
  * read quantiles at the given probabilities. Runs on aggregated rows
  * (one per group), never in the per-row hot path, so interpreted eval
  * (CodegenFallback) is fine. */
final case class KllQuantiles(child: Expression, probs: Seq[Double])
  extends UnaryExpression with graft.compile.KernelCallCodegen {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "kll_quantiles"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kll_quantiles requires binary sketch, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val sketch = KllSketch.deserialize(input.asInstanceOf[Array[Byte]])
    if (sketch.isEmpty) null
    else new GenericArrayData(probs.map(sketch.quantile).toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): KllQuantiles =
    copy(child = newChild)
}

/** `kll_cdf(sketch, points)` — scalar: estimated CDF values at the given
  * points, for KS-style comparisons in SQL space. */
final case class KllCdf(child: Expression, points: Seq[Double])
  extends UnaryExpression with graft.compile.KernelCallCodegen {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "kll_cdf"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kll_cdf requires binary sketch, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val sketch = KllSketch.deserialize(input.asInstanceOf[Array[Byte]])
    if (sketch.isEmpty) null
    else new GenericArrayData(points.map(sketch.cdf).toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): KllCdf =
    copy(child = newChild)
}

/** `kll_ks(sketch_a, sketch_b)` — scalar: two-sample Kolmogorov–Smirnov
  * distance between two serialized sketches. Lets drift-vs-profile run
  * INSIDE a plan (e.g. per streaming window against a broadcast profile
  * literal) instead of collecting blobs to the driver. An empty sketch
  * reads 1.0 against a non-empty one and 0.0 against an empty one, as
  * [[KllSketch.ksDistance]] does. Runs on aggregated rows only — never
  * per input row. */
final case class KllKsDistance(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with graft.compile.BinaryKernelCallCodegen {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "kll_ks"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kll_ks requires two binary sketches, got ${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    KllSketch.ksDistance(
      KllSketch.deserialize(l.asInstanceOf[Array[Byte]]),
      KllSketch.deserialize(r.asInstanceOf[Array[Byte]]))

  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
      newRight: org.apache.spark.sql.catalyst.expressions.Expression): KllKsDistance =
    copy(left = newLeft, right = newRight)
}

object functions {
  /** Aggregate a numeric column into a serialized KLL sketch. */
  def kll_sketch(c: Column, k: Int = KllSketch.DefaultK): Column =
    ColumnBridge.column(
      KllSketchAgg(ColumnBridge.expression(c.cast("double")), k).toAggregateExpression())

  /** Quantiles straight from a column: kll_sketch then kll_quantiles. */
  def kll_quantiles_agg(c: Column, probs: Seq[Double],
                        k: Int = KllSketch.DefaultK): Column =
    kll_quantiles(kll_sketch(c, k), probs)

  def kll_quantiles(sketch: Column, probs: Seq[Double]): Column =
    ColumnBridge.column(KllQuantiles(ColumnBridge.expression(sketch), probs))

  def kll_cdf(sketch: Column, points: Seq[Double]): Column =
    ColumnBridge.column(KllCdf(ColumnBridge.expression(sketch), points))

  /** KS distance between two sketch-blob columns (use `lit(profileBytes)`
    * for a persisted reference profile). */
  def kll_ks(a: Column, b: Column): Column =
    ColumnBridge.column(KllKsDistance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
