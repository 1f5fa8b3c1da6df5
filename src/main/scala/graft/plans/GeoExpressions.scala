package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField,
  StructType}

import graft.functions.GeoPortable

/** The portable UTM->WGS84 inverse as native Catalyst expressions — the
  * third backend of the [[GeoPortable]] DAG. `doGenCode` renders the same
  * IEEE operation tree as Java source, so the whole-stage-codegen path,
  * the interpreted path, and the oracle's DuckDB SQL all produce identical
  * bits; the flagship pipeline keeps its geodesy inside a codegen span
  * instead of dropping to a Scala UDF (extension-policy tier (b) over (d)).
  *
  * Two scalar expressions (lat / lon) rather than one struct-valued one:
  * struct results fall out of whole-stage codegen paths and block
  * vectorized consumers; the duplicated arithmetic is ~60 flops per call,
  * far below the scan cost either side of it.
  */
abstract class UtmToWgs84Base extends TernaryExpression {
  def e: Expression
  def n: Expression
  def zone: Expression
  /** true -> latitude, false -> longitude */
  protected def emitLat: Boolean

  override def first: Expression = e
  override def second: Expression = n
  override def third: Expression = zone
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (e.dataType, n.dataType, zone.dataType) match {
      case (DoubleType, DoubleType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (double, double, int), got $other")
    }

  override protected def nullSafeEval(ev: Any, nv: Any, zv: Any): Any = {
    val ll = GeoPortable.inverse(
      ev.asInstanceOf[Double], nv.asInstanceOf[Double], zv.asInstanceOf[Int])
    if (emitLat) ll._1 else ll._2
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (eV, nV, zV) => {
      val p = ctx.freshName("geo")
      val (body, latVar, lonVar) = GeoPortable.javaBody(p, eV, nV, zV)
      s"""$body
         |${ev.value} = ${if (emitLat) latVar else lonVar};""".stripMargin
    })
}

case class UtmToWgs84Lat(e: Expression, n: Expression, zone: Expression)
    extends UtmToWgs84Base {
  override protected def emitLat: Boolean = true
  override def prettyName: String = "utm_lat"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(e = newFirst, n = newSecond, zone = newThird)
}

case class UtmToWgs84Lon(e: Expression, n: Expression, zone: Expression)
    extends UtmToWgs84Base {
  override protected def emitLat: Boolean = false
  override def prettyName: String = "utm_lon"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(e = newFirst, n = newSecond, zone = newThird)
}

object GeoFunctions {
  /** Idempotent session registration (same pattern as cosine_sim). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "utm_lat", exprs => UtmToWgs84Lat(exprs(0), exprs(1), exprs(2)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "utm_lon", exprs => UtmToWgs84Lon(exprs(0), exprs(1), exprs(2)), "scala_udf")
  }
}

/** The county rectangles [[CountyArgmax]] loops over, as parallel arrays in
  * the county table's row order. They ride in the expression (and the task
  * closure) like a broadcast side that was already on the driver. */
final class CountyRects(val keys: Array[Int], val states: Array[Int],
                        val x1: Array[Double], val x2: Array[Double],
                        val y1: Array[Double], val y2: Array[Double]) extends Serializable {
  def size: Int = keys.length

  /** The county whose rectangle overlaps `[ex1, ex2] x [ey1, ey2]` most, as
    * a one-element array of `(county_key, state_key, overlap_m2)`, or an
    * empty array when none overlaps by a positive area. Equal overlaps go
    * to the smaller key. The overlap and every comparison are Spark's:
    * `greatest`/`least` and `>` on doubles order by
    * `SQLOrderingUtil.compareDoubles` (-0.0 equals 0.0, NaN is the
    * largest). The interpreted and generated paths both call this. */
  def argmax(ex1: Double, ex2: Double, ey1: Double, ey2: Double): ArrayData = {
    var best = -1
    var bestOverlap = 0.0
    var i = 0
    while (i < keys.length) {
      val o = CountyRects.side(ex1, ex2, x1(i), x2(i)) * CountyRects.side(ey1, ey2, y1(i), y2(i))
      if (SQLOrderingUtil.compareDoubles(o, 0.0) > 0) {
        val c = if (best < 0) 1 else SQLOrderingUtil.compareDoubles(o, bestOverlap)
        if (c > 0 || (c == 0 && keys(i) < keys(best))) { best = i; bestOverlap = o }
      }
      i += 1
    }
    if (best < 0) CountyRects.NoCounty
    else new GenericArrayData(Array[Any](
      new GenericInternalRow(Array[Any](keys(best), states(best), bestOverlap))))
  }
}

object CountyRects {
  /** Counties a single [[CountyArgmax]] carries at most: every cluster
    * loops over all of them, and the table is collected to the driver. */
  val MaxCounties = 10000

  private val NoCounty: ArrayData = new GenericArrayData(Array.empty[Any])

  // Spark's greatest / least on two doubles: the first argument stays unless
  // the second orders strictly above / below it
  private def greatest(a: Double, b: Double): Double =
    if (SQLOrderingUtil.compareDoubles(b, a) > 0) b else a
  private def least(a: Double, b: Double): Double =
    if (SQLOrderingUtil.compareDoubles(b, a) < 0) b else a

  /** `greatest(0.0, least(hi, khi) - greatest(lo, klo))`: one side of the
    * overlap of `[lo, hi]` with `[klo, khi]`, 0 when they do not meet. */
  def side(lo: Double, hi: Double, klo: Double, khi: Double): Double =
    greatest(0.0, least(hi, khi) - greatest(lo, klo))

  /** Collects `counties` (`county_key`, `state_key` ints; `kx1`, `kx2`,
    * `ky1`, `ky2` doubles) in one Spark job. Refuses a table above
    * [[MaxCounties]] rows, or one holding a null. The rows stay Catalyst
    * rows: converting them to `Row`s would generate one more class. */
  def collect(counties: DataFrame): CountyRects = {
    val rows = org.apache.spark.sql.GraftSqlShim.collectInternal(
      counties.select("county_key", "state_key", "kx1", "kx2", "ky1", "ky2").limit(MaxCounties + 1))
    require(rows.length <= MaxCounties,
      s"county_argmax: the county table holds more than $MaxCounties rows")
    rows.zipWithIndex.foreach { case (r, i) => require(!(0 until 6).exists(r.isNullAt),
      s"county_argmax: county row $i holds a null") }
    def ints(j: Int) = rows.map(_.getInt(j))
    def doubles(j: Int) = rows.map(_.getDouble(j))
    new CountyRects(ints(0), ints(1), doubles(2), doubles(3), doubles(4), doubles(5))
  }
}

/** `county_argmax(ex1, ex2, ey1, ey2)`: the greatest-overlap county of a
  * UTM envelope (`form_calcs.py:992-1037`) as a one-element array of
  * `struct(county_key, state_key, overlap_m2)`, empty when no county
  * overlaps it by a positive area ([[CountyRects.argmax]]), null when a
  * coordinate is null. One loop over the counties per row, inside the
  * row's codegen stage: it replaces a broadcast nested-loop join on
  * `overlap > 0`, a two-phase `max_by` aggregation over the joined rows
  * and its exchange.
  *
  * An array, not a nullable struct, so that `inline` drops the envelopes
  * with no county in the pass that computes the argmax: a filter on a
  * null struct is pushed below the projection that computes it, and the
  * argmax then runs once in the filter and again in the projection. The
  * plan prints the county count, not the rectangles. */
case class CountyArgmax(ex1: Expression, ex2: Expression, ey1: Expression, ey2: Expression,
                        counties: CountyRects) extends QuaternaryExpression {

  override def first: Expression = ex1
  override def second: Expression = ex2
  override def third: Expression = ey1
  override def fourth: Expression = ey2
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(CountyArgmax.Result, containsNull = false)
  override def prettyName: String = "county_argmax"
  override def stringArgs: Iterator[Any] = Iterator(ex1, ex2, ey1, ey2, s"${counties.size} counties")

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects four doubles, got ${children.map(_.dataType.simpleString)}")

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    counties.argmax(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rects = ctx.addReferenceObj("counties", counties, classOf[CountyRects].getName)
    defineCodeGen(ctx, ev, (a, b, c, d) => s"$rects.argmax($a, $b, $c, $d)")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): CountyArgmax =
    copy(ex1 = newFirst, ex2 = newSecond, ey1 = newThird, ey2 = newFourth)
}

object CountyArgmax {
  val Result: StructType = StructType(Seq(
    StructField("county_key", IntegerType, nullable = false),
    StructField("state_key", IntegerType, nullable = false),
    StructField("overlap_m2", DoubleType, nullable = false)))

  /** The argmax of the envelope columns over `counties`, as a Column. */
  def apply(ex1: Column, ex2: Column, ey1: Column, ey2: Column, counties: CountyRects): Column = {
    import org.apache.spark.sql.GraftSqlShim.{column, expression}
    column(CountyArgmax(expression(ex1), expression(ex2), expression(ey1), expression(ey2), counties))
  }
}
