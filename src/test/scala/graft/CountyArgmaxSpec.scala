package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.{Gen, Prop}

import graft.plans.{CountyArgmax, CountyRects}

/** `county_argmax` replaces the inventory's broadcast nested-loop join and
  * `max_by` aggregation: a one-element array of the best county, empty
  * when none overlaps. These tests pin its tie and edge rules, the
  * agreement of its interpreted and generated paths, and its answer on
  * random rectangles against a brute-force argmax. */
class CountyArgmaxSpec extends SparkSpec {

  /** (key, state, x1, x2, y1, y2) */
  private type County = (Int, Int, Double, Double, Double, Double)
  private type Env = (Double, Double, Double, Double)

  private def rects(cs: Seq[County]): CountyRects =
    new CountyRects(cs.map(_._1).toArray, cs.map(_._2).toArray, cs.map(_._3).toArray,
      cs.map(_._4).toArray, cs.map(_._5).toArray, cs.map(_._6).toArray)

  /** The join condition and argmax the expression replaces, written
    * plainly: every county with a positive overlap product, then the
    * largest overlap, the smaller key on a tie. */
  private def brute(cs: Seq[County], e: Env): Option[(Int, Int, Double)] = {
    def side(lo: Double, hi: Double, klo: Double, khi: Double) =
      math.max(0.0, math.min(hi, khi) - math.max(lo, klo))
    val cands = cs.map { case (k, s, x1, x2, y1, y2) =>
      (k, s, side(e._1, e._2, x1, x2) * side(e._3, e._4, y1, y2))
    }.filter(_._3 > 0)
    if (cands.isEmpty) None
    else Some(cands.reduce((a, b) => if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a))
  }

  private def eval(cs: Seq[County], e: Env): Option[(Int, Int, Double)] = {
    val a = CountyArgmax(Literal(e._1), Literal(e._2), Literal(e._3), Literal(e._4), rects(cs))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(a.numElements() <= 1)
    (0 until a.numElements()).headOption.map { i =>
      val r = a.getStruct(i, 3)
      (r.getInt(0), r.getInt(1), r.getDouble(2))
    }
  }

  test("equal overlaps pick the smaller county_key, whatever the table order") {
    val a: County = (7, 1, 0.0, 10.0, 0.0, 10.0)
    val b: County = (3, 0, 0.0, 10.0, 0.0, 10.0)
    val c: County = (5, 1, 5.0, 10.0, 0.0, 10.0)
    val e: Env = (2.0, 8.0, 2.0, 8.0)
    for (order <- Seq(a, b, c).permutations)
      assert(eval(order, e) == Some((3, 0, 36.0)), order)
  }

  test("abutting counties and zero-area envelopes are dropped") {
    val k: County = (1, 0, 0.0, 10.0, 0.0, 10.0)
    // shares an edge or a corner only
    assert(eval(Seq(k), (10.0, 20.0, 0.0, 10.0)).isEmpty)
    assert(eval(Seq(k), (-5.0, -0.0, 0.0, 10.0)).isEmpty)
    assert(eval(Seq(k), (10.0, 20.0, 10.0, 20.0)).isEmpty)
    // a point or a segment inside the county
    assert(eval(Seq(k), (4.0, 4.0, 1.0, 9.0)).isEmpty)
    assert(eval(Seq(k), (1.0, 9.0, 4.0, 4.0)).isEmpty)
    assert(eval(Seq(k), (-0.0, 0.0, 3.0, 6.0)).isEmpty)
    // an inverted envelope has no area either
    assert(eval(Seq(k), (9.0, 1.0, 1.0, 9.0)).isEmpty)
    // and a null coordinate yields null (`inline` emits no row), as the
    // join dropped it
    assert(CountyArgmax(Literal(1.0), Literal.create(null, DoubleType), Literal(1.0),
      Literal(2.0), rects(Seq(k))).eval(null) == null)
    assert(eval(Seq(k), (1.0, 2.0, 1.0, 3.0)) == Some((1, 0, 2.0)))
  }

  // coordinates on a small grid, so ties, shared edges and both zeros
  // are frequent
  private val coord: Gen[Double] =
    Gen.frequency(4 -> Gen.choose(-4, 4).map(_.toDouble), 1 -> Gen.oneOf(-0.0, 0.0, 0.5, -0.5))
  private val env: Gen[Env] = for (a <- coord; b <- coord; c <- coord; d <- coord) yield (a, b, c, d)
  private val counties: Gen[Seq[County]] = for {
    n <- Gen.choose(1, 6)
    boxes <- Gen.listOfN(n, env)
    keys <- Gen.pick(n, 0 until 50)
  } yield keys.toSeq.zip(boxes).map { case (k, (x1, x2, y1, y2)) => (k, k / 5, x1, x2, y1, y2) }

  test("forAll: random rectangles, with ±0.0 edges, agree with a brute-force argmax") {
    PropCheck(Prop.forAll(counties, Gen.listOfN(8, env)) { (cs, es) =>
      es.forall(e => eval(cs, e) == brute(cs, e))
    }, minTests = 500, seed = 20261020L)
  }

  test("forAll: one overlap side is bit-identical to Spark's greatest/least, zeros' signs included") {
    import org.apache.spark.sql.catalyst.expressions.{Greatest, Least, Subtract}
    def spark(lo: Double, hi: Double, klo: Double, khi: Double) =
      Greatest(Seq(Literal(0.0), Subtract(Least(Seq(Literal(hi), Literal(khi))),
        Greatest(Seq(Literal(lo), Literal(klo)))))).eval(null).asInstanceOf[Double]
    val bits = (d: Double) => java.lang.Double.doubleToRawLongBits(d)
    PropCheck(Prop.forAll(env, env) { (e, k) =>
      bits(CountyRects.side(e._1, e._2, k._1, k._2)) == bits(spark(e._1, e._2, k._1, k._2))
    }, minTests = 500, seed = 7L)
  }

  test("interpreted and generated paths agree, and match the brute force") {
    val rng = new scala.util.Random(11)
    def c() = if (rng.nextInt(6) == 0) (if (rng.nextBoolean()) -0.0 else 0.0)
              else rng.nextInt(9) - 4.0
    val cs = (0 until 6).map(i => (i * 3, i, c(), c(), c(), c()))
    val envs = Seq.fill(400)((c(), c(), c(), c()))
    val schema = StructType(Seq("ex1", "ex2", "ey1", "ey2").map(StructField(_, DoubleType)))
    // an RDD-backed frame, so the optimizer cannot fold the projection over
    // a local relation before execution; planned afresh under each conf
    def df = spark.createDataFrame(spark.sparkContext.parallelize(
      envs.map(e => Row(e._1, e._2, e._3, e._4)), 2), schema)
      .select(col("ex1"), col("ex2"), col("ey1"), col("ey2"),
        CountyArgmax(col("ex1"), col("ex2"), col("ey1"), col("ey2"), rects(cs)).as("a"))
    def run(): Map[Env, Option[(Int, Int, Double)]] = df.collect().map { r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) ->
        r.getSeq[Row](4).headOption.map(a => (a.getInt(0), a.getInt(1), a.getDouble(2)))
    }.toMap
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(run())
    val generated = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(run())
    assert(interpreted == generated)
    envs.foreach(e => assert(generated(e) == brute(cs, e), e))
    assert(generated.values.count(_.isDefined) > 20, "too few envelopes overlap a county")
  }

  test("a county table above the cap is refused") {
    val big = spark.range(CountyRects.MaxCounties + 1).select(
      col("id").cast("int").as("county_key"), col("id").cast("int").as("state_key"),
      col("id").cast("double").as("kx1"), (col("id") + 1).cast("double").as("kx2"),
      col("id").cast("double").as("ky1"), (col("id") + 1).cast("double").as("ky2"))
    val e = intercept[IllegalArgumentException](CountyRects.collect(big))
    assert(e.getMessage.contains(s"more than ${CountyRects.MaxCounties}"))
    assert(CountyRects.collect(big.limit(CountyRects.MaxCounties)).size == CountyRects.MaxCounties)
  }
}
