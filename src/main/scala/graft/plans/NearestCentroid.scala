package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Native argmin over a fixed centroid table: for one int8-quantized
  * vector (`array<int>`, values scaled ×1000 against milli-precision
  * centroids), returns `struct(centroid_id: long, dist: long)` of the
  * nearest centroid under exact integer L2, ties to the lowest id.
  *
  * This is the inner loop of the Lloyd trainer
  * ([[graft.operators.Lloyd]]). The composed-operator form — crossJoin
  * with a k-row centroid table, interpreted `aggregate(zip_with(...))`
  * distance, then `groupBy(vec_id).agg(min(struct(...)))` — has two costs
  * that matter at scale: the per-row k× blowup through interpreted
  * higher-order functions, and an argmin SHUFFLE that moves the whole
  * corpus (vec_id is unique, so partial aggregation collapses nothing
  * across the wire) once per training round. This expression computes the
  * argmin where the row already is: one fused k·d integer loop per vector
  * inside whole-stage codegen, no join, no corpus-sized shuffle — the
  * only thing a training round shuffles is the k·d-cell centroid update.
  *
  * The centroid table rides along as expression state (a broadcast-sized
  * k×d long array serialized with the plan), NOT as child Literals — ids
  * MUST be ascending so "first strict improvement" IS the lowest-id
  * tie-break, matching `min(struct(dist, centroid_id, ...))` exactly
  * (LloydSpec pins trainer equality against the unrolled SQL oracle).
  */
case class NearestCentroidMilli(
    child: Expression,
    centroidIds: Array[Long],
    centroidsMilli: Array[Array[Long]]) extends UnaryExpression {

  require(centroidIds.length == centroidsMilli.length && centroidIds.nonEmpty,
    "nearest_centroid: ids and centroids must align and be non-empty")
  require(centroidIds.zip(centroidIds.tail).forall { case (a, b) => a < b },
    "nearest_centroid: centroid ids must be strictly ascending (tie-break order)")

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("centroid_id", LongType, nullable = false),
    StructField("dist", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<int> (quantized vector), got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    var bestId = centroidIds(0)
    var bestD = Long.MaxValue
    var c = 0
    while (c < centroidsMilli.length) {
      val cm = centroidsMilli(c)
      // fail loudly on dimensionality mismatch — a truncated-distance argmin
      // would silently mis-assign a malformed corpus row
      if (q.numElements() != cm.length) throw new IllegalArgumentException(
        s"nearest_centroid: vector has ${q.numElements()} dims, centroids have ${cm.length}")
      val n = cm.length
      var d = 0L
      var i = 0
      while (i < n) {
        val v = 1000L * q.getInt(i) - cm(i)
        d += v * v
        i += 1
      }
      if (d < bestD) { bestD = d; bestId = centroidIds(c) }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestId, bestD))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centIds", centroidIds, "long[]")
    val centRef = ctx.addReferenceObj("centMilli", centroidsMilli, "long[][]")
    nullSafeCodeGen(ctx, ev, q => {
      val bestId = ctx.freshName("bestId")
      val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val v = ctx.freshName("v")
      val cm = ctx.freshName("cm")
      s"""
         |long $bestId = $idsRef[0];
         |long $bestD = Long.MAX_VALUE;
         |for (int $c = 0; $c < $centRef.length; $c++) {
         |  long[] $cm = $centRef[$c];
         |  if ($q.numElements() != $cm.length) {
         |    throw new IllegalArgumentException(
         |      "nearest_centroid: vector has " + $q.numElements() +
         |      " dims, centroids have " + $cm.length);
         |  }
         |  int $n = $cm.length;
         |  long $d = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $v = 1000L * $q.getInt($i) - $cm[$i];
         |    $d += $v * $v;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $bestId = $idsRef[$c]; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$bestId, $bestD});
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidMilli =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid_milli"
}
