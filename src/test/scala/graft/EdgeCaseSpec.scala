package graft

import org.apache.spark.sql.functions._

import graft.operators.{BoxMerge, TextPipeline, VectorSearch}
import graft.plans.MergeBoxesApi

/** Degenerate-input behaviour for the custom operators. */
class EdgeCaseSpec extends SparkSpec {

  test("BoxMerge on an empty dataset yields no clusters") {
    import spark.implicits._
    val empty = spark.emptyDataset[BoxMerge.Box].toDF()
    assert(MergeBoxesApi.mergeBoxes(empty).count() == 0)
  }

  test("BoxMerge single box is its own unmerged cluster") {
    import spark.implicits._
    val one = Seq(BoxMerge.Box("t", 1, 2, 3, 4, "water_tower", "c0")).toDF()
    val c = MergeBoxesApi.mergeBoxes(one).as[BoxMerge.Cluster].collect().head
    assert(!c.merged && c.n_boxes == 1 && c.cluster_id == 1)
    assert((c.minx, c.miny, c.maxx, c.maxy) == (1, 2, 3, 4))
  }

  test("shinglesFromTokens on short docs yields empty, not negative indices") {
    import spark.implicits._
    val df = Seq((1L, "one two"), (2L, ""), (3L, "a b c")).toDF("id", "text")
      .withColumn("toks", TextPipeline.tokens(col("text")))
      .select(col("id"), TextPipeline.shinglesFromTokens(col("toks"), 3).as("sh"))
    val sizes = df.orderBy("id").collect().map(r => r.getSeq[String](1).size).toSeq
    assert(sizes == Seq(0, 0, 1))
  }

  test("Fetcher with an empty catalog fetches nothing and creates the store") {
    import spark.implicits._
    val store = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_test_store", "empty_catalog")
    val empty = Seq.empty[(String, String)].toDF("file_name", "url")
    assert(graft.io.Fetcher.fetchMissing(spark, empty, "file_name", "url", store.toString) == 0)
    assert(java.nio.file.Files.isDirectory(store))
  }

  test("lshCandidatePairs on an empty signature frame is empty") {
    import spark.implicits._
    val sig = Seq.empty[(String, String, String)].toDF("doc_id", "h0", "h1")
    assert(graft.operators.TextPipeline.lshCandidatePairs(sig, "doc_id", 2, 2).count() == 0)
    assert(graft.operators.TextPipeline.lshDroppedBuckets(sig, "doc_id", 2, 2).count() == 0)
  }

  test("clusterGroup hybrid threshold: 33+ boxes take the bucketed path, same result") {
    // straddle the <=32 cutoff with a dense chain; both paths must agree
    val boxesSmall = (0 until 32).map(i =>
      BoxMerge.Box("t", i * 10, 0, i * 10 + 15, 20, "water_tower", s"c$i"))
    val boxesBig = (0 until 40).map(i =>
      BoxMerge.Box("t", i * 10, 0, i * 10 + 15, 20, "water_tower", s"c$i"))
    val s = BoxMerge.clusterGroup(boxesSmall, 5)
    val b = BoxMerge.clusterGroup(boxesBig, 5)
    assert(s.size == 1 && s.head.n_boxes == 32 && s.head.chip_names.size == 32)
    assert(b.size == 1 && b.head.n_boxes == 40 && b.head.chip_names.size == 40)
    assert(b.head.maxx == 39 * 10 + 15)
  }

  test("bruteForceTopK with an empty query set returns nothing") {
    import spark.implicits._
    val emb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = VectorSearch.bruteForceTopK(emb, emb.filter(col("vec_id") < 0), 3)
    assert(out.count() == 0)
  }

  test("quality metrics survive a minimal one-token document") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    val m = TextPipeline.qualityMetrics(df, "text").collect().head
    assert(m.getAs[Long]("n_tokens") == 1L)
    assert(m.getAs[String]("quality_bucket") == "too_short")
  }

  test("allocation when n exceeds the pool allocates everything") {
    import graft.operators.Allocation
    val small = orders.limit(10)
    val (allocated, rest) = Allocation.allocate(
      small, Seq("o_orderdate", "o_orderkey"), 100, Seq("a"))
    assert(allocated.count() == 10 && rest.count() == 0)
  }

  test("binary sink writes one file per row, readable back via binaryFile") {
    import graft.io.Sinks
    val dir = Sinks.scratchDir("binary_sink_test")
    val payloads = spark.read.parquet(s"$sf0001/documents.parquet")
      .limit(10)
      .select(concat(lit("doc_"), col("doc_id"), lit(".bin")).as("file_name"),
        encode(col("text"), "UTF-8").as("payload"))
    Sinks.writeBinaryFiles(payloads, dir)
    val back = Sinks.scanBinaryDir(spark, dir, "*.bin")
    assert(back.count() == 10)
    // content survives byte-for-byte
    val lens = back.select(length(col("content")).cast("long").as("n"))
      .collect().map(_.getLong(0)).sorted
    val orig = payloads.select(length(col("payload")).cast("long").as("n"))
      .collect().map(_.getLong(0)).sorted
    assert(lens.toSeq == orig.toSeq)
  }

  private lazy val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select("o_orderkey", "o_orderdate")

  test("sorted_intersect_count: empty/disjoint/subset/null, codegen and interpreted agree") {
    import spark.implicits._
    graft.plans.SortedIntersectCount.register(spark)
    val rows = Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 6L, 7L), 3L),  // partial overlap
      (Seq.empty[Long], Seq(1L, 2L), 0L),                   // empty side
      (Seq(1L, 2L), Seq(3L, 4L), 0L),                       // disjoint
      (Seq(2L, 4L), Seq(1L, 2L, 3L, 4L, 5L), 2L))           // subset
    val got = rows.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .selectExpr("sorted_intersect_count(a, b) AS c")
      .collect().map(_.getLong(0)).toSeq
    assert(got == rows.map(_._3), s"codegen path: $got")
    // interpreted path must agree (the expression is also its own oracle)
    rows.foreach { case (a, b, want) =>
      val x = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray)
      val y = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b.toArray)
      assert(graft.plans.SortedIntersectCount.walk(x, y) == want)
    }
    val n = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .selectExpr("sorted_intersect_count(a, b) AS c").collect()(0)
    assert(n.isNullAt(0), "null input must yield null, not 0")
  }
}
