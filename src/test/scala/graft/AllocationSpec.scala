package graft

import org.apache.spark.sql.functions._

import graft.operators.Allocation
import graft.plans.{CosineSimilarity, GraftExtensions}

class AllocationSpec extends SparkSpec {

  private lazy val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select("o_orderkey", "o_orderdate")

  test("allocate splits exactly n / rest with no overlap") {
    val (allocated, rest) = Allocation.allocate(
      orders, Seq("o_orderdate", "o_orderkey"), 100, Seq("a", "b"))
    assert(allocated.count() == 100)
    assert(rest.count() == orders.count() - 100)
    assert(allocated.select("o_orderkey")
      .intersect(rest.select("o_orderkey")).count() == 0)
  }

  test("allocation is idempotent: same inputs, same split") {
    val (a1, _) = Allocation.allocate(orders,
      Seq("o_orderdate", "o_orderkey"), 50, Seq("a", "b", "c"))
    val (a2, _) = Allocation.allocate(orders,
      Seq("o_orderdate", "o_orderkey"), 50, Seq("a", "b", "c"))
    assert(a1.exceptAll(a2).count() == 0 && a2.exceptAll(a1).count() == 0)
  }

  test("rounds are disjoint and cover the first n*rounds items") {
    val rounds = Allocation.allocateRounds(spark, orders,
      Seq("o_orderdate", "o_orderkey"), 100, Seq("a", "b"), rounds = 3)
    assert(rounds.count() == 300)
    assert(rounds.select("o_orderkey").distinct().count() == 300)
    // round-robin balance inside each round
    val byAnnotator = rounds.groupBy("round", "annotator").count()
      .collect().map(_.getLong(2))
    assert(byAnnotator.forall(_ == 50))
  }

  test("the parquet state-dir route allocates exactly as the checkpoint route") {
    val order = Seq("o_orderdate", "o_orderkey")
    val viaCheckpoint = Allocation.allocateRounds(spark, orders, order, 100, Seq("a", "b"),
      rounds = 2)
    val viaState = Allocation.allocateRounds(spark, orders, order, 100, Seq("a", "b"),
      rounds = 2, stateDir = Some(graft.io.Sinks.scratchDir("spec_allocation_state")))
    assert(viaState.schema == viaCheckpoint.schema)
    assert(viaState.exceptAll(viaCheckpoint).isEmpty && viaCheckpoint.exceptAll(viaState).isEmpty)
  }

  test("GraftExtensions injects cosine_sim into a session builder") {
    // the shared session already exists, so build the extensions object and
    // apply it to a fresh extension registry; then confirm the same builder
    // function resolves through the registry-based path on the live session
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)   // must not throw
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    val r = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
      .selectExpr("cosine_sim(a, b) as c").first().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("cosine_sim runs inside a WholeStageCodegen span, not as fallback") {
    graft.plans.GraftFunctions.register(spark)
    // a real parquet scan, so the projection cannot be constant-folded away
    val df = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val out = df.selectExpr("vec_id", "cosine_sim(embedding, embedding) AS c")
      .filter(col("c") > 0.5)
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage;
    // the projection and filter evaluating cosine_sim must carry it
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") || plan.contains("WholeStageCodegen"), plan)
    assert(plan.contains("*(1) Filter"), plan)
    assert(out.count() == df.count())   // self-cosine = 1 for non-zero vectors
  }

  test("cosine_sim expression survives both codegen and interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val a = Literal.create(Seq(3.0f, 4.0f), ArrayType(FloatType))
    val b = Literal.create(Seq(3.0f, 4.0f), ArrayType(FloatType))
    val e = CosineSimilarity(a, b)
    assert(math.abs(e.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
  }
}
