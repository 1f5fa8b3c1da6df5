package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `sorted_intersect_count(a, b)`: |a ∩ b| for two ASC-SORTED long arrays
  * with distinct elements — a two-pointer merge walk fused into
  * whole-stage codegen.
  *
  * Rationale (same policy as [[CosineSimilarity]] — custom Catalyst only
  * where it pays): the triangle-count hot loop evaluates an adjacency
  * intersection once per edge, and the generic
  * `size(array_intersect(a, b))` builds a boxed hash set from one side
  * and MATERIALIZES the intersection array just to take its length —
  * per-edge allocation proportional to the out-degrees when the consumer
  * needs one long. This walk allocates nothing.
  *
  * Sortedness is the caller's contract (as with every merge-walk
  * operator); unsorted input undercounts rather than erroring, so keep
  * the producing `sort_array` visible next to the call site.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count expects (array<bigint>, array<bigint>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.walk(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val va = ctx.freshName("va")
      val vb = ctx.freshName("vb")
      s"""
         |int $i = 0; int $j = 0; long $c = 0L;
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |while ($i < $nx && $j < $ny) {
         |  long $va = $a.getLong($i); long $vb = $b.getLong($j);
         |  if ($va == $vb) { $c++; $i++; $j++; }
         |  else if ($va < $vb) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

object SortedIntersectCount {

  /** Two-pointer intersection count over sorted-distinct long arrays. */
  def walk(x: ArrayData, y: ArrayData): Long = {
    var i = 0; var j = 0; var c = 0L
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val a = x.getLong(i); val b = y.getLong(j)
      if (a == b) { c += 1; i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    c
  }

  /** Registers `sorted_intersect_count(a, b)` on the session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_count",
      exprs => SortedIntersectCount(exprs(0), exprs(1)),
      "scala_udf")
}
