package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{Sinks, Tables}
import graft.multimodal.BinaryMedia
import graft.operators.VectorSearch

/** Similarity search over `embeddings` and multimodal binary-column
  * plumbing over fake payloads (north-star LLM-pipeline surface). */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame


  // common oracle CTEs: unnested embeddings + norms (64 dims, static series)
  private val unnestSql =
    """un AS (
      |  SELECT vec_id, CAST(i.i AS INTEGER) AS i, CAST(embedding[CAST(i.i AS INTEGER)] AS DOUBLE) AS x
      |  FROM embeddings, generate_series(1, 64) i(i)),
      |norms AS (SELECT vec_id, sum(x * x) AS n2 FROM un GROUP BY 1)""".stripMargin

  // ------------------------------------------------------------------ brute-force top-k
  private val v1CosineTopk: Q = (spark, dir) => {
    // plain read: at the gate corpus size the brute-force kernel costs
    // less than the exchange a spread would add (measured both ways, r15)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    VectorSearch.bruteForceTopK(emb, queries, 3)
      .orderBy("query_id", "rnk")
  }

  private val v1CosineTopkSql =
    s"""WITH $unnestSql,
       |dots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.x * b.x) AS dot
       |  FROM un a JOIN un b ON a.i = b.i
       |  WHERE a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.query_id, d.neighbor_id,
       |    round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos_sim
       |  FROM dots d
       |  JOIN norms na ON na.vec_id = d.query_id
       |  JOIN norms nb ON nb.vec_id = d.neighbor_id)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rnk
       |  FROM scored) WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  // ------------------------------------------------------------------ LSH buckets
  private val v2LshBuckets: Q = (spark, dir) => {
    val emb = Tables.embeddings(spark, dir)
    VectorSearch.hyperplaneBuckets(emb, 8).orderBy("vec_id")
  }

  private val v2LshBucketsSql =
    s"""WITH $unnestSql,
       |dots AS (
       |  SELECT vec_id, CAST(g.p AS INTEGER) AS p,
       |    sum(x * (((g.p * 37 + i * 17) % 13) - 6)) AS dotp
       |  FROM un, generate_series(0, 7) g(p)
       |  GROUP BY 1, 2)
       |SELECT vec_id,
       |  CAST(sum((CASE WHEN dotp > 0 THEN 1 ELSE 0 END) << p) AS INTEGER) AS bucket
       |FROM dots GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------ ANN within bucket
  private val v3AnnBucket: Q = (spark, dir) => {
    val emb = Tables.embeddings(spark, dir)
    val buckets = VectorSearch.hyperplaneBuckets(emb, 8)
    val withB = emb.join(buckets, "vec_id")
    val q = withB.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"))
    val c = withB.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cand_emb"), col("bucket"))
    val joined = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        round(VectorSearch.cosine(col("q_emb"), col("cand_emb")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("bucket"), col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id")
  }

  private val v3AnnBucketSql =
    s"""WITH $unnestSql,
       |dots8 AS (
       |  SELECT vec_id, CAST(g.p AS INTEGER) AS p,
       |    sum(x * (((g.p * 37 + i * 17) % 13) - 6)) AS dotp
       |  FROM un, generate_series(0, 7) g(p)
       |  GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(sum((CASE WHEN dotp > 0 THEN 1 ELSE 0 END) << p) AS INTEGER) AS bucket
       |  FROM dots8 GROUP BY vec_id),
       |pairs AS (
       |  SELECT qa.vec_id AS query_id, qa.bucket, cb.vec_id AS neighbor_id
       |  FROM buckets qa JOIN buckets cb
       |    ON qa.bucket = cb.bucket AND qa.vec_id <> cb.vec_id
       |  WHERE qa.vec_id % 50 = 0),
       |scored AS (
       |  SELECT p.query_id, p.bucket, p.neighbor_id,
       |    round(sum(a.x * b.x) / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos_sim
       |  FROM pairs p
       |  JOIN un a ON a.vec_id = p.query_id
       |  JOIN un b ON b.vec_id = p.neighbor_id AND b.i = a.i
       |  JOIN norms na ON na.vec_id = p.query_id
       |  JOIN norms nb ON nb.vec_id = p.neighbor_id
       |  GROUP BY 1, 2, 3, na.n2, nb.n2)
       |SELECT query_id, bucket, neighbor_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rn
       |  FROM scored) WHERE rn = 1
       |ORDER BY query_id""".stripMargin

  // ------------------------------------------------------------------ multi-probe ANN
  /** Multi-probe LSH: each query searches its own bucket plus the 8
    * one-bit-flip neighbor buckets — the recall knob that trades a 9x
    * candidate fan-out (still an equi-join, never a cross join) for far
    * fewer misses than single-bucket search. */
  private val v6MultiprobeAnn: Q = (spark, dir) => {
    graft.plans.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val buckets = VectorSearch.hyperplaneBuckets(emb, 8)
    val withB = emb.join(buckets, "vec_id")
    val q = withB.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"))
      .withColumn("probe", explode(expr(
        "concat(array(bucket), transform(sequence(0, 7), p -> bucket ^ shiftleft(1, p)))")))
    val c = withB.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cand_emb"), col("bucket").as("probe"))
    val joined = q.join(c, Seq("probe"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(expr("cosine_sim(q_emb, cand_emb)"), 4))
      .select("query_id", "neighbor_id", "cos_sim").distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("query_id", "neighbor_id", "cos_sim")
      .orderBy("query_id")
  }

  private val v6MultiprobeAnnSql =
    s"""WITH $unnestSql,
       |dots8 AS (
       |  SELECT vec_id, CAST(g.p AS INTEGER) AS p,
       |    sum(x * (((g.p * 37 + i * 17) % 13) - 6)) AS dotp
       |  FROM un, generate_series(0, 7) g(p)
       |  GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(sum((CASE WHEN dotp > 0 THEN 1 ELSE 0 END) << p) AS INTEGER) AS bucket
       |  FROM dots8 GROUP BY vec_id),
       |probes AS (
       |  SELECT vec_id, CASE WHEN g.p = -1 THEN bucket
       |    ELSE CAST(xor(bucket, 1 << CAST(g.p AS INTEGER)) AS INTEGER) END AS probe
       |  FROM buckets, generate_series(-1, 7) g(p)
       |  WHERE vec_id % 50 = 0),
       |pairs AS (
       |  SELECT DISTINCT q.vec_id AS query_id, cb.vec_id AS neighbor_id
       |  FROM probes q JOIN buckets cb
       |    ON q.probe = cb.bucket AND q.vec_id <> cb.vec_id),
       |scored AS (
       |  SELECT p.query_id, p.neighbor_id,
       |    round(sum(a.x * b.x) / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos_sim
       |  FROM pairs p
       |  JOIN un a ON a.vec_id = p.query_id
       |  JOIN un b ON b.vec_id = p.neighbor_id AND b.i = a.i
       |  JOIN norms na ON na.vec_id = p.query_id
       |  JOIN norms nb ON nb.vec_id = p.neighbor_id
       |  GROUP BY 1, 2, na.n2, nb.n2)
       |SELECT query_id, neighbor_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rn
       |  FROM scored) WHERE rn = 1
       |ORDER BY query_id""".stripMargin

  // ------------------------------------------------------------------ embedding near-dup
  /** Embedding-cosine near-duplicate pairs: candidate generation via the
    * LSH buckets (equi-join), exact cosine >= 0.99 confirms — the
    * fact-scale near-dup shape (no cross join anywhere). */
  private val d5EmbeddingNeardup: Q = (spark, dir) => {
    // the corpus has no natural near-dups (max pairwise cosine ~0.48), so
    // the feed plants 10 exact duplicates the pipeline must find
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val emb = base.unionByName(base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val withB = emb.join(VectorSearch.hyperplaneBuckets(emb, 8), "vec_id")
    val a = withB.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("bucket"))
    val b = withB.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("bucket"))
    graft.plans.GraftFunctions.register(spark)
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(expr("cosine_sim(emb_a, emb_b)"), 4))
      .filter(col("cos_sim") >= 0.99)
      .select("id_a", "id_b", "cos_sim")
      .orderBy("id_a", "id_b")
  }

  private val d5EmbeddingNeardupSql =
    s"""WITH feed AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10),
       |un AS (
       |  SELECT vec_id, CAST(i.i AS INTEGER) AS i, CAST(embedding[CAST(i.i AS INTEGER)] AS DOUBLE) AS x
       |  FROM feed, generate_series(1, 64) i(i)),
       |norms AS (SELECT vec_id, sum(x * x) AS n2 FROM un GROUP BY 1),
       |dots8 AS (
       |  SELECT vec_id, CAST(g.p AS INTEGER) AS p,
       |    sum(x * (((g.p * 37 + i * 17) % 13) - 6)) AS dotp
       |  FROM un, generate_series(0, 7) g(p)
       |  GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(sum((CASE WHEN dotp > 0 THEN 1 ELSE 0 END) << p) AS INTEGER) AS bucket
       |  FROM dots8 GROUP BY vec_id),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT p.id_a, p.id_b,
       |    round(sum(a.x * b.x) / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos_sim
       |  FROM pairs p
       |  JOIN un a ON a.vec_id = p.id_a
       |  JOIN un b ON b.vec_id = p.id_b AND b.i = a.i
       |  JOIN norms na ON na.vec_id = p.id_a
       |  JOIN norms nb ON nb.vec_id = p.id_b
       |  GROUP BY 1, 2, na.n2, nb.n2)
       |SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.99
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------ IVF assignment
  /** IVF cell assignment: "centroids" are a deterministic subset (ids < 16,
    * the stand-in for trained k-means centers); every vector joins the
    * broadcast centroid table and keeps its best cell — the index-build
    * step whose search path is the within-cell join of v3. */
  private val v5IvfAssign: Q = (spark, dir) => {
    graft.plans.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val scored = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("cos_sim", round(expr("cosine_sim(embedding, c_emb)"), 4))
    val w = Window.partitionBy("vec_id").orderBy(col("cos_sim").desc, col("centroid_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "centroid_id", "cos_sim")
      .orderBy("vec_id")
  }

  private val v5IvfAssignSql =
    s"""WITH $unnestSql,
       |dots AS (
       |  SELECT b.vec_id, a.vec_id AS centroid_id, sum(a.x * b.x) AS dot
       |  FROM un a JOIN un b ON a.i = b.i
       |  WHERE a.vec_id < 16
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.vec_id, d.centroid_id,
       |    round(d.dot / (sqrt(nb.n2) * sqrt(na.n2)), 4) AS cos_sim
       |  FROM dots d
       |  JOIN norms na ON na.vec_id = d.centroid_id
       |  JOIN norms nb ON nb.vec_id = d.vec_id)
       |SELECT vec_id, centroid_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, centroid_id) AS rn
       |  FROM scored) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------ IVF end-to-end search
  /** The full IVF search path on top of v5's index build: probe the top-2
    * cells per query (broadcast centroid table), equi-join candidates on
    * their assigned cell, exact-cosine rerank, top-3. At corpus scale the
    * only shuffle is the candidate equi-join on centroid_id — the classic
    * IVF trade: recall bounded by nprobe, cost bounded by cell sizes. */
  private val v7IvfSearch: Q = (spark, dir) => {
    graft.plans.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    // index build: every vector keeps its best cell (v5 semantics)
    val cellW = Window.partitionBy("vec_id").orderBy(col("c_sim").desc, col("centroid_id"))
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("c_sim", round(expr("cosine_sim(embedding, c_emb)"), 4))
      .withColumn("crn", row_number().over(cellW)).filter(col("crn") === 1)
      .select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb"),
        col("centroid_id"))
    // probe: top-2 cells per query vector
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("c_sim", round(expr("cosine_sim(q_emb, c_emb)"), 4))
      .withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("c_sim").desc, col("centroid_id"))))
      .filter(col("crn") <= 2)
      .select("query_id", "q_emb", "centroid_id")
    // candidates from probed cells; exact rerank; top-3
    val rerank = probes.join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim", round(expr("cosine_sim(q_emb, cand_emb)"), 4))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("cand_id"))
    rerank.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("query_id"), col("rnk"), col("cand_id").as("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  private val v7IvfSearchSql =
    s"""WITH $unnestSql,
       |cdots AS (
       |  SELECT b.vec_id, a.vec_id AS centroid_id, sum(a.x * b.x) AS dot
       |  FROM un a JOIN un b ON a.i = b.i
       |  WHERE a.vec_id < 16
       |  GROUP BY 1, 2),
       |cscored AS (
       |  SELECT d.vec_id, d.centroid_id,
       |    round(d.dot / (sqrt(nb.n2) * sqrt(na.n2)), 4) AS c_sim
       |  FROM cdots d
       |  JOIN norms na ON na.vec_id = d.centroid_id
       |  JOIN norms nb ON nb.vec_id = d.vec_id),
       |assigned AS (
       |  SELECT vec_id AS cand_id, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c_sim DESC, centroid_id) AS crn
       |    FROM cscored) WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c_sim DESC, centroid_id) AS crn
       |    FROM cscored WHERE vec_id % 50 = 0) WHERE crn <= 2),
       |cands AS (
       |  SELECT p.query_id, a.cand_id
       |  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
       |  WHERE p.query_id <> a.cand_id),
       |rerank AS (
       |  SELECT c.query_id, c.cand_id,
       |    round(d.dot / (sqrt(nq.n2) * sqrt(nc.n2)), 4) AS cos_sim
       |  FROM cands c
       |  JOIN (SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.x * b.x) AS dot
       |        FROM un a JOIN un b ON a.i = b.i
       |        WHERE a.vec_id % 50 = 0
       |        GROUP BY 1, 2) d ON d.qid = c.query_id AND d.cid = c.cand_id
       |  JOIN norms nq ON nq.vec_id = c.query_id
       |  JOIN norms nc ON nc.vec_id = c.cand_id)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, cand_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, cand_id) AS rnk
       |  FROM rerank) WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  // ------------------------------------------------------------------ native-expression top-k
  /** Same result as v1, computed through the codegen'd native
    * `cosine_sim` Catalyst expression instead of the higher-order-function
    * pipeline — the hash match proves the fused loop preserves semantics. */
  private val v4CosineNative: Q = (spark, dir) => {
    graft.plans.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val joined = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cand_emb"))
      .crossJoin(broadcast(emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(expr("cosine_sim(q_emb, cand_emb)"), 4))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  // ------------------------------------------------------------------ multimodal metadata
  private val m1MediaMeta: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val payloads = BinaryMedia.fakePayloads(spark, docs)
    val meta = BinaryMedia.decodeMeta(payloads).toDF()
    val hashes = payloads.toDF().select(col("media_id"),
      sha2(col("payload"), 256).as("payload_sha256"))
    meta.join(hashes, "media_id")
      .select("media_id", "byte_len", "width", "height", "n_frames", "format", "payload_sha256")
      .orderBy("media_id")
  }

  private val m1MediaMetaSql =
    """SELECT doc_id AS media_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  CAST(32 + (ascii(substring(text, 1, 1)) % 64) * 8 AS INTEGER) AS width,
      |  CAST(32 + (octet_length(encode(text)) % 64) * 8 AS INTEGER) AS height,
      |  CAST(octet_length(encode(text)) % 5 + 1 AS INTEGER) AS n_frames,
      |  CASE WHEN octet_length(encode(text)) % 2 = 0
      |       THEN 'img/fake-even' ELSE 'img/fake-odd' END AS format,
      |  lower(sha256(text)) AS payload_sha256
      |FROM documents ORDER BY media_id""".stripMargin

  // ------------------------------------------------------------------ multimodal frame sampling
  private val m2FrameSample: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val meta = BinaryMedia.decodeMeta(BinaryMedia.fakePayloads(spark, docs)).toDF()
    BinaryMedia.sampleFrames(meta)
      .select("media_id", "n_frames", "frame_idx", "frame_offset")
      .orderBy("media_id", "frame_idx")
  }

  private val m2FrameSampleSql =
    """WITH meta AS (
      |  SELECT doc_id AS media_id,
      |    CAST(octet_length(encode(text)) % 5 + 1 AS INTEGER) AS n_frames
      |  FROM documents)
      |SELECT media_id, n_frames, CAST(f.f AS INTEGER) AS frame_idx,
      |  CAST(f.f * 1024 AS BIGINT) AS frame_offset
      |FROM meta, generate_series(0, 4) f(f)
      |WHERE f.f < n_frames
      |ORDER BY media_id, frame_idx""".stripMargin

  // ------------------------------------------------------------------ m3: frame-level dedup (multimodal x dedup composition)
  /** Composes the multimodal frame generator with the exact-dedup family:
    * every sampled frame gets a content fingerprint (a deterministic
    * 32-char window of the payload — the stand-in for a real frame decode,
    * same stub contract as m1/m2) and media with repeated frames are
    * detected by hash distinct-counting — frame-level exact dedup, the
    * video analog of d1. */
  private val m3FrameDedup: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val meta = BinaryMedia.decodeMeta(BinaryMedia.fakePayloads(spark, docs)).toDF()
    val frames = BinaryMedia.sampleFrames(meta)
      .join(docs.select(col("doc_id").as("media_id"), col("text")), Seq("media_id"))
      .withColumn("frame_hash", md5(substring(
        col("text"), (col("frame_idx") * 17 % greatest(length(col("text")), lit(1))) + 1, lit(32))))
    frames.groupBy("media_id")
      .agg(max(col("n_frames")).as("n_frames"),
        countDistinct(col("frame_hash")).as("n_distinct_frames"))
      .withColumn("has_dup_frames", col("n_distinct_frames") < col("n_frames"))
      .orderBy("media_id")
  }

  private val m3FrameDedupSql =
    """WITH meta AS (
      |  SELECT doc_id AS media_id, text,
      |    CAST(octet_length(encode(text)) % 5 + 1 AS INTEGER) AS n_frames
      |  FROM documents),
      |frames AS (
      |  SELECT media_id, n_frames,
      |    md5(substr(text, CAST(f.f * 17 % greatest(length(text), 1) AS INTEGER) + 1, 32)) AS frame_hash
      |  FROM meta, generate_series(0, 4) f(f)
      |  WHERE f.f < n_frames)
      |SELECT media_id, max(n_frames) AS n_frames,
      |  count(DISTINCT frame_hash) AS n_distinct_frames,
      |  count(DISTINCT frame_hash) < max(n_frames) AS has_dup_frames
      |FROM frames GROUP BY media_id
      |ORDER BY media_id""".stripMargin

  // ------------------------------------------------------------------ int8 scalar quantization
  /** Per-vector int8 scalar quantization: scale = 127/max|x|, q = round to
    * nearest int — the storage-shrink step an embedding store applies
    * before ANN serving (4x smaller, cosine ranking nearly preserved).
    * All math runs in DOUBLE with floor-based rounding so the quantized
    * codes are bit-identical across engines (same-shape IEEE ops); the
    * gate emits the code vector as a joined string. Stateless projection:
    * no shuffle at any scale. */
  private val v8Quantize: Q = (spark, dir) => {
    val emb = Tables.embeddings(spark, dir)
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("dvec", transform(col("embedding"), x => x.cast("double")))
      .withColumn("maxabs", array_max(transform(col("dvec"), x => abs(x))))
      .withColumn("scale",
        when(col("maxabs") === lit(0.0), lit(0.0))
          .otherwise(lit(127.0) / col("maxabs")))
      .withColumn("qvec", transform(col("dvec"),
        x => floor(x * col("scale") + lit(0.5)).cast("int")))
      .select(col("vec_id"), col("maxabs"), col("scale"),
        array_join(col("qvec"), ",").as("qvec"))
      .orderBy("vec_id")
  }

  private val v8QuantizeSql =
    """WITH m AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, embedding, maxabs,
      |    CASE WHEN maxabs = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
      |         ELSE CAST(127 AS DOUBLE) / maxabs END AS scale
      |  FROM m)
      |SELECT vec_id, maxabs, scale,
      |  array_to_string(list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + CAST(0.5 AS DOUBLE)) AS INTEGER)), ',') AS qvec
      |FROM s ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------ norm outlier filter
  /** v9 — embedding sanity filter: flag vectors whose L2 norm sits in the
    * corpus tails (bottom/top 1% by RANK), the QA gate an embedding store
    * runs before indexing (degenerate/exploded vectors poison both ANN
    * recall and cosine calibration). Rank-based thresholds on purpose:
    * percent-rank is integer arithmetic over a deterministic order, so
    * the flag is engine-exact where an interpolated quantile threshold
    * would hang on last-ulp float agreement. The global rank runs through
    * [[graft.operators.GlobalRank]] — range shuffle + broadcast offsets,
    * no single-partition window at any corpus size. */
  private val v9NormOutliers: Q = (spark, dir) => {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))))
    val ranked = graft.operators.GlobalRank
      .withGlobalRowNumber(emb, Seq(col("norm"), col("vec_id")), "rk")
    val n = emb.agg(count(lit(1)).as("cnt"))
    ranked.crossJoin(broadcast(n))
      .withColumn("pct_rank", (col("rk") - 1).cast("double") / (col("cnt") - 1))
      .select(col("vec_id"), round(col("norm"), 4).as("norm_r"),
        col("pct_rank"),
        (col("pct_rank") < 0.01 || col("pct_rank") > 0.99).as("is_outlier"))
      .orderBy("vec_id")
  }

  private val v9NormOutliersSql =
    s"""WITH $unnestSql,
       |r AS (
       |  SELECT vec_id, sqrt(n2) AS norm FROM norms),
       |rk AS (
       |  SELECT vec_id, norm,
       |    row_number() OVER (ORDER BY norm, vec_id) AS rk,
       |    count(*) OVER () AS cnt
       |  FROM r)
       |SELECT vec_id, round(norm, 4) AS norm_r,
       |  CAST(rk - 1 AS DOUBLE) / (cnt - 1) AS pct_rank,
       |  (CAST(rk - 1 AS DOUBLE) / (cnt - 1) < 0.01
       |    OR CAST(rk - 1 AS DOUBLE) / (cnt - 1) > 0.99) AS is_outlier
       |FROM rk ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------ v10: k-means update step (IVF centroid training)
  /** One Lloyd iteration over int8-QUANTIZED vectors: assign each vector
    * to its nearest centroid by squared euclidean distance, then emit the
    * per-dimension centroid update (sum / count). This is the index-build
    * loop behind v5/v7's IVF — a real engine runs it driver-side until
    * movement converges; one step is the verifiable unit. Quantizing FIRST
    * makes the whole step engine-exact: distances and per-dim sums are
    * integer arithmetic (order-independent, no float summation drift), and
    * the mean is a single exact-operand double division. Scale shape: k
    * centroids broadcast to a narrow assignment pass (integer zip_with
    * inside codegen), then ONE keyed agg on (centroid, dim) — k*d cells —
    * with map-side partial aggregation; no shuffle grows with corpus size. */
  /** v8-convention int8 quantization: per-vector scale 127/max|x|, exact
    * round-half-up — shared by the one-step gate (v10), the Lloyd trainer
    * gate (v15b) and the trained index build (v15). */
  private def quantizedVecs(df: DataFrame): DataFrame =
    df.withColumn("dvec", transform(col("embedding"), x => x.cast("double")))
      .withColumn("maxabs", array_max(transform(col("dvec"), x => abs(x))))
      .withColumn("scale",
        when(col("maxabs") === lit(0.0), lit(0.0))
          .otherwise(lit(127.0) / col("maxabs")))
      .select(col("vec_id"), transform(col("dvec"),
        x => floor(x * col("scale") + lit(0.5)).cast("int")).as("qvec"))

  private val v10KmeansStep: Q = (spark, dir) => {
    val qvecs = quantizedVecs(Tables.embeddings(spark, dir))
    val centroids = qvecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("qvec").as("cvec"))
    val dist = qvecs.crossJoin(broadcast(centroids))
      .withColumn("dist", aggregate(
        zip_with(col("qvec"), col("cvec"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x.cast("long")))
    val aw = Window.partitionBy("vec_id").orderBy(col("dist"), col("centroid_id"))
    val assigned = dist.withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1).select("vec_id", "centroid_id", "qvec")
    assigned.select(col("centroid_id"), posexplode(col("qvec")).as(Seq("dim", "qx")))
      .groupBy("centroid_id", "dim")
      .agg(count(lit(1)).as("n_assigned"), sum(col("qx")).as("sum_q"))
      .withColumn("mean_q", col("sum_q").cast("double") / col("n_assigned"))
      .orderBy("centroid_id", "dim")
  }

  private val v10KmeansStepSql =
    """WITH m AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, embedding,
      |    CASE WHEN maxabs = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
      |         ELSE CAST(127 AS DOUBLE) / maxabs END AS scale
      |  FROM m),
      |q AS (
      |  SELECT vec_id, CAST(i.i AS INTEGER) - 1 AS dim,
      |    CAST(floor(CAST(embedding[CAST(i.i AS INTEGER)] AS DOUBLE) * scale
      |      + CAST(0.5 AS DOUBLE)) AS INTEGER) AS qx
      |  FROM s, generate_series(1, 64) i(i)),
      |cq AS (SELECT vec_id AS centroid_id, dim, qx AS cx FROM q WHERE vec_id < 8),
      |dist AS (
      |  SELECT q.vec_id, c.centroid_id,
      |    CAST(sum(CAST(q.qx - c.cx AS BIGINT) * (q.qx - c.cx)) AS BIGINT) AS dist
      |  FROM q JOIN cq c ON q.dim = c.dim
      |  GROUP BY 1, 2),
      |assign AS (
      |  SELECT vec_id, centroid_id FROM (
      |    SELECT vec_id, centroid_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
      |    FROM dist) WHERE rn = 1)
      |SELECT a.centroid_id, q.dim,
      |  CAST(count(*) AS BIGINT) AS n_assigned,
      |  CAST(sum(q.qx) AS BIGINT) AS sum_q,
      |  CAST(sum(q.qx) AS DOUBLE) / count(*) AS mean_q
      |FROM assign a JOIN q ON q.vec_id = a.vec_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------ v15b: Lloyd-trained centroids
  /** The CTE chain replaying [[graft.operators.Lloyd.train]] in SQL:
    * quantization (v8 convention), milli-scaled seeds, then `iters`
    * UNROLLED assign→update→recenter rounds. The trainer stops early at a
    * fixpoint; because a fixpoint repeats verbatim, surplus unrolled
    * rounds are no-ops and the fixed-depth oracle equals the
    * convergence-stopped run at ANY scale factor. All arithmetic is
    * exact: integer distances, integer sums, and a centroid update whose
    * floor-of-exact-rational is safe in double (numerator ≤ 2^31, so the
    * true fractional part, when nonzero, is ≥ 1/2n — orders of magnitude
    * above one ulp of the quotient). */
  /** The Lloyd-loop oracle as a chained-CTE pipeline. Every CTE is
    * `MATERIALIZED`: each round references its predecessor ~3 times, and
    * DuckDB's default CTE inlining would re-evaluate the whole prefix per
    * reference — 3^iters blowup that turned the 8-round v15 oracle into a
    * 10-minute query. Materialization is a pure planner hint: same rows
    * (equality-checked when introduced), 0.6 s instead. */
  private def lloydChainSql(k: Int, iters: Int, feed: String): String = {
    val quant =
      s"""lq_m AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
         |  FROM $feed),
         |lq_s AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    CASE WHEN maxabs = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
         |         ELSE CAST(127 AS DOUBLE) / maxabs END AS scale
         |  FROM lq_m),
         |lq AS MATERIALIZED (
         |  SELECT vec_id, CAST(i.i AS INTEGER) - 1 AS dim,
         |    CAST(floor(CAST(embedding[CAST(i.i AS INTEGER)] AS DOUBLE) * scale
         |      + CAST(0.5 AS DOUBLE)) AS INTEGER) AS qx
         |  FROM lq_s, generate_series(1, 64) i(i)),
         |cent_0 AS MATERIALIZED (
         |  SELECT vec_id AS centroid_id, dim, CAST(qx AS BIGINT) * 1000 AS cm
         |  FROM lq WHERE vec_id < $k)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""kdist_$i AS MATERIALIZED (
         |  SELECT q.vec_id, c.centroid_id,
         |    CAST(sum(CAST(1000 * q.qx - c.cm AS BIGINT) * (1000 * q.qx - c.cm)) AS BIGINT) AS dist
         |  FROM lq q JOIN cent_${i - 1} c ON c.dim = q.dim
         |  GROUP BY 1, 2),
         |kasg_$i AS MATERIALIZED (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, centroid_id) AS rn FROM kdist_$i) WHERE rn = 1),
         |kupd_$i AS MATERIALIZED (
         |  SELECT a.centroid_id, q.dim,
         |    CAST(count(*) AS BIGINT) AS n, CAST(sum(q.qx) AS BIGINT) AS s
         |  FROM kasg_$i a JOIN lq q ON q.vec_id = a.vec_id
         |  GROUP BY 1, 2),
         |cent_$i AS MATERIALIZED (
         |  SELECT c.centroid_id, c.dim,
         |    COALESCE(CAST(floor((2000.0 * u.s + u.n) / (2.0 * u.n)) AS BIGINT), c.cm) AS cm
         |  FROM cent_${i - 1} c LEFT JOIN kupd_$i u
         |    ON u.centroid_id = c.centroid_id AND u.dim = c.dim)""".stripMargin
    }
    (quant +: rounds).mkString(",\n")
  }

  private val LloydIters = 8

  /** v15b: the FULL k-means training loop behind the persisted index —
    * [[graft.operators.Lloyd.train]] run to a fixpoint (or [[LloydIters]]
    * rounds) with k = 8 over the quantized corpus. Output is the final
    * centroid table with the last round's assignment mass; the oracle
    * replays the identical loop as [[LloydIters]] unrolled SQL rounds
    * (early convergence is a fixpoint, so the depths agree — see
    * [[lloydChainSql]]). Hash-stability across parallelism comes from the
    * all-integer loop; `LloydSpec` pins it explicitly. */
  private val v15bLloydCentroids: Q = (spark, dir) => {
    import spark.implicits._
    // gate-scale corpus is tiny: one cached partition makes each Lloyd
    // round a one-task job over the cache
    val qvecs = quantizedVecs(Tables.embeddings(spark, dir)).coalesce(1).cache()
    try {
      val trained = graft.operators.Lloyd.train(spark, qvecs, k = 8, maxIters = LloydIters)
      trained.rows
        .toDF("centroid_id", "dim", "cm", "n_assigned", "sum_q")
        .orderBy("centroid_id", "dim")
    } finally { qvecs.unpersist(); () }
  }

  private val v15bLloydCentroidsSql =
    s"""WITH ${lloydChainSql(k = 8, iters = LloydIters, feed = "embeddings")}
       |SELECT c.centroid_id, c.dim, c.cm,
       |  CAST(COALESCE(u.n, 0) AS BIGINT) AS n_assigned,
       |  CAST(COALESCE(u.s, 0) AS BIGINT) AS sum_q
       |FROM cent_$LloydIters c LEFT JOIN kupd_$LloydIters u
       |  ON u.centroid_id = c.centroid_id AND u.dim = c.dim
       |ORDER BY c.centroid_id, c.dim""".stripMargin

  // ------------------------------------------------------------------ v11: ANN recall vs exact
  /** The ANN tuning loop's metric: recall@3 of the multi-probe LSH
    * candidate set against the exact brute-force top-3 — the number a
    * recall/latency trade-off is steered by. Composes the two verified
    * paths (v1's exact top-k, v6's probe fan-out) and scores them
    * against each other. Scale shape: the exact side is the broadcast
    * query set vs corpus (the documented baseline); candidates come from
    * the same bucket equi-join as v6; scoring is two keyed counts and a
    * semi-join — nothing quadratic beyond the deliberate exact baseline. */
  private val v11AnnRecall: Q = (spark, dir) => {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val exact = VectorSearch.bruteForceTopK(emb, qs, 3)
      .select("query_id", "neighbor_id")
    val buckets = VectorSearch.hyperplaneBuckets(emb, 8)
    val q = qs.select(col("vec_id").as("query_id"))
      .join(buckets.withColumnRenamed("vec_id", "query_id"), "query_id")
      .withColumn("probe", explode(expr(
        "concat(array(bucket), transform(sequence(0, 7), p -> bucket ^ shiftleft(1, p)))")))
      .select("query_id", "probe")
    val c = buckets.select(col("vec_id").as("neighbor_id"), col("bucket").as("probe"))
    val cand = q.join(c, Seq("probe"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val nc = cand.groupBy("query_id").agg(count(lit(1)).as("n_candidates"))
    val hits = exact.join(cand, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    qs.select(col("vec_id").as("query_id"))
      .join(nc, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("recall_at_3", round(col("hits").cast("double") / 3.0, 4))
      .orderBy("query_id")
  }

  private val v11AnnRecallSql =
    s"""WITH $unnestSql,
       |dots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.x * b.x) AS dot
       |  FROM un a JOIN un b ON a.i = b.i
       |  WHERE a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.query_id, d.neighbor_id,
       |    round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos_sim
       |  FROM dots d
       |  JOIN norms na ON na.vec_id = d.query_id
       |  JOIN norms nb ON nb.vec_id = d.neighbor_id),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rnk
       |    FROM scored) WHERE rnk <= 3),
       |dots8 AS (
       |  SELECT vec_id, CAST(g.p AS INTEGER) AS p,
       |    sum(x * (((g.p * 37 + i * 17) % 13) - 6)) AS dotp
       |  FROM un, generate_series(0, 7) g(p)
       |  GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(sum((CASE WHEN dotp > 0 THEN 1 ELSE 0 END) << p) AS INTEGER) AS bucket
       |  FROM dots8 GROUP BY vec_id),
       |probes AS (
       |  SELECT vec_id, CASE WHEN g.p = -1 THEN bucket
       |    ELSE CAST(xor(bucket, 1 << CAST(g.p AS INTEGER)) AS INTEGER) END AS probe
       |  FROM buckets, generate_series(-1, 7) g(p)
       |  WHERE vec_id % 50 = 0),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, cb.vec_id AS neighbor_id
       |  FROM probes q JOIN buckets cb
       |    ON q.probe = cb.bucket AND q.vec_id <> cb.vec_id),
       |nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand GROUP BY 1),
       |h AS (
       |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM exact e JOIN cand c
       |    ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id
       |  GROUP BY 1)
       |SELECT e.vec_id AS query_id,
       |  CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / 3.0, 4) AS recall_at_3
       |FROM embeddings e
       |LEFT JOIN nc ON nc.query_id = e.vec_id
       |LEFT JOIN h ON h.query_id = e.vec_id
       |WHERE e.vec_id % 50 = 0
       |ORDER BY query_id""".stripMargin

  // ------------------------------------------------------------------ media perceptual-hash dedup
  /** End-to-end MEDIA near-dup removal: binary payloads → partition-wise
    * decode → 64-bit perceptual hash → banded hamming pairs → clusters →
    * canonical survivor + bytes-reclaimed accounting. The pHash stands in
    * for a DCT/pixel perceptual hash (no codecs in this container): it is
    * [[graft.operators.TextPipeline.simhash64]] over the DECODED payload,
    * which has the property that matters — locality-sensitivity on
    * content — while the Spark-side plumbing (opaque binary column,
    * narrow decode, the d9 band join with its live bucket cap, GraphCC,
    * per-cluster byte rollup) is exactly the production media-dedup
    * pipeline. Feed plants 20 tailed copies; their hamming distance to
    * the originals is ≤ 3, so each collapses onto its original and the
    * report prices the reclaimed bytes. */
  private val m4PhashNeardup: Q = (spark, dir) => {
    graft.plans.GraftFunctions.register(spark)
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val feed = d.unionByName(d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text")))
    val media = BinaryMedia.fakePayloads(spark, feed)
    // ONE narrow projection over the binary payloads: hash and byte
    // accounting ride together (ids + 4 shorts + a long — payload
    // dropped) feeding the band join, the vertex set, and the byte
    // rollup; the previous shape re-decoded the payload three times (sim,
    // verts, decodeMeta). NOT persisted: the r16 A/B measured the cache
    // as a ~1 s loss (min 4.72 vs 3.63 over 3 quiet runs each) — the
    // kernel is cheap codegen and the materialization job costs more
    // than the recomputes it saves (guide §5's persist trade, decided by
    // measurement; the r15 verdict flagged this persist perf-weak).
    val hashed = media.toDF()
      .select(col("media_id"), expr("simhash64(decode(payload, 'UTF-8'))").as("s"),
        octet_length(col("payload")).cast("long").as("byte_len"))
      .select(col("media_id"), col("s.sim0").as("sim0"), col("s.sim1").as("sim1"),
        col("s.sim2").as("sim2"), col("s.sim3").as("sim3"), col("byte_len"))
    val sim = hashed.select(col("media_id").as("doc_id"),
      col("sim0"), col("sim1"), col("sim2"), col("sim3"))
    val pairs = graft.operators.TextPipeline.simhashPairs(sim, "doc_id",
        maxHamming = 3, maxBucket = graft.operators.TextPipeline.DefaultMaxBucket)
      .select(lit("").as("key"), col("id_a"), col("id_b"))
    val verts = hashed.select(lit("").as("key"), col("media_id").as("id"))
    val comp = graft.operators.GraphCC.connectedComponents(verts, pairs)
      .select(col("id").as("media_id"), col("comp").as("cluster_id"))
    val meta = hashed.select("media_id", "byte_len")
    comp.join(meta, "media_id")
      .groupBy("cluster_id")
      .agg(min("media_id").as("keep_media_id"),
        count(lit(1)).as("n_media"),
        sum("byte_len").as("bytes_total"),
        min_by(col("byte_len"), col("media_id")).as("keep_bytes"))
      .withColumn("bytes_dropped", col("bytes_total") - col("keep_bytes"))
      .select("cluster_id", "keep_media_id", "n_media", "bytes_total", "bytes_dropped")
      .orderBy("cluster_id")
  }

  private val m4PhashNeardupSql =
    s"""WITH RECURSIVE feed AS (${TextDedupQueries.nearDupFeedSql}),
       |${TextDedupQueries.simhashSqlOver("feed")},
       |${TextDedupQueries.simhashBandedSql(graft.operators.TextPipeline.DefaultMaxBucket)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sim0 AS a0, a.sim1 AS a1, a.sim2 AS a2, a.sim3 AS a3,
       |    b.sim0 AS b0, b.sim1 AS b1, b.sim2 AS b2, b.sim3 AS b3
       |  FROM bkeep a JOIN bkeep b
       |    ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
       |hpairs AS (
       |  SELECT id_a, id_b FROM cand
       |  WHERE bit_count(CAST(xor(a0, b0) AS BIGINT)) + bit_count(CAST(xor(a1, b1) AS BIGINT))
       |    + bit_count(CAST(xor(a2, b2) AS BIGINT)) + bit_count(CAST(xor(a3, b3) AS BIGINT)) <= 3),
       |cedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM hpairs
       |  UNION ALL SELECT id_b, id_a FROM hpairs
       |  UNION ALL SELECT doc_id, doc_id FROM feed),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM cedges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN cedges e ON r.dst = e.src),
       |comp AS (SELECT src AS media_id, min(dst) AS cluster_id FROM reach GROUP BY 1),
       |meta AS (SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS byte_len FROM feed)
       |SELECT c.cluster_id, min(c.media_id) AS keep_media_id,
       |  count(*) AS n_media,
       |  CAST(sum(m.byte_len) AS BIGINT) AS bytes_total,
       |  CAST(sum(m.byte_len) - arg_min(m.byte_len, c.media_id) AS BIGINT) AS bytes_dropped
       |FROM comp c JOIN meta m ON m.media_id = c.media_id
       |GROUP BY c.cluster_id ORDER BY c.cluster_id""".stripMargin

  // ------------------------------------------------------------------ semantic dedup
  /** SemDeDup (Abbas et al. 2023, public): semantic near-duplicate REMOVAL
    * driven by embedding clusters — assign every vector to its nearest
    * centroid cell (v5's IVF assignment), generate candidate pairs only
    * WITHIN a cell, confirm with exact cosine >= 0.99, collapse into
    * clusters with [[graft.operators.GraphCC]], keep the smallest id as
    * canonical. The cell structure is what makes this linear-ish at
    * 100 TB: pair generation is an equi-join on cell_id bounded by cell
    * sizes, never a corpus cross-join; cross-cell duplicates are the
    * method's documented miss (quantify with a v11-style recall probe).
    * Feed plants 10 exact duplicates (same convention as d5) so the
    * pipeline provably collapses them onto their originals.
    *
    * The within-cell pair join runs CAPPED
    * ([[graft.operators.VectorSearch.cellPairs]], default 1000): SemDeDup's
    * own use case — mass near-duplicate embeddings — concentrates exactly
    * those vectors into ONE cell, so an uncapped cell join is |cell|²
    * on a single shuffle key. Refused cells leave their members as
    * singletons; d13b audits the refusals (same guard discipline as the
    * text path's DefaultMaxBucket since r3). */
  private def semCells(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val feed = base.unionByName(base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val centroids = base.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val cellW = Window.partitionBy("vec_id").orderBy(col("c_sim").desc, col("centroid_id"))
    feed.crossJoin(broadcast(centroids))
      .withColumn("c_sim", round(expr("cosine_sim(embedding, c_emb)"), 4))
      .withColumn("rn", row_number().over(cellW)).filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("centroid_id").as("cell_id"))
  }

  private val d13SemanticDedup: Q = (spark, dir) => {
    // cells feeds THREE consumers (pair join, CC vertex set, final join)
    // — checkpointing materializes the crossJoin × window subtree once
    // AND flattens the lineage each consumer re-plans (the uncheckpointed
    // form re-planned the whole subtree per consumer; A/B r16: 2.63 ->
    // 1.52 s min-of-3).
    // Fault tolerance: localCheckpoint keeps the blocks on the executors
    // that computed them and drops the lineage, so losing one of those
    // executors fails the query instead of recomputing the cells — the
    // trade [[graft.operators.Allocation.allocateRounds]] documents. The
    // cluster-scale form materializes the cells as a table (parquet write
    // + re-read, its stateDir route), which survives executor loss.
    val cells = semCells(spark, dir).localCheckpoint()
    val pairs = graft.operators.VectorSearch
      .cellPairs(cells, "vec_id", "embedding", "cell_id",
        maxCell = graft.operators.VectorSearch.DefaultMaxCell)
      .withColumn("cos_sim", round(expr("cosine_sim(emb_a, emb_b)"), 4))
      .filter(col("cos_sim") >= 0.99)
      .select(lit("").as("key"), col("id_a"), col("id_b"))
    val verts = cells.select(lit("").as("key"), col("vec_id").as("id"))
    val comp = graft.operators.GraphCC.connectedComponents(verts, pairs)
      .select(col("id").as("vec_id"), col("comp").as("canonical_id"))
    comp.join(cells.select("vec_id", "cell_id"), "vec_id")
      .withColumn("is_canonical", col("vec_id") === col("canonical_id"))
      .withColumn("cluster_n", count(lit(1)).over(
        Window.partitionBy("canonical_id")))
      .select("vec_id", "cell_id", "canonical_id", "is_canonical", "cluster_n")
      .orderBy("vec_id")
  }

  /** Shared oracle prefix for d13/d13b: feed -> unnested dims -> nearest
    * centroid cell per vector -> per-cell populations. */
  private val semCellsSql =
    """feed AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10),
      |un AS (
      |  SELECT vec_id, CAST(i.i AS INTEGER) AS i, CAST(embedding[CAST(i.i AS INTEGER)] AS DOUBLE) AS x
      |  FROM feed, generate_series(1, 64) i(i)),
      |norms AS (SELECT vec_id, sum(x * x) AS n2 FROM un GROUP BY 1),
      |cdots AS (
      |  SELECT b.vec_id, a.vec_id AS centroid_id, sum(a.x * b.x) AS dot
      |  FROM un a JOIN un b ON a.i = b.i
      |  WHERE a.vec_id < 16
      |  GROUP BY 1, 2),
      |cscored AS (
      |  SELECT d.vec_id, d.centroid_id,
      |    round(d.dot / (sqrt(nb.n2) * sqrt(na.n2)), 4) AS c_sim
      |  FROM cdots d
      |  JOIN norms na ON na.vec_id = d.centroid_id
      |  JOIN norms nb ON nb.vec_id = d.vec_id),
      |cells AS (
      |  SELECT vec_id, centroid_id AS cell_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY c_sim DESC, centroid_id) AS rn
      |    FROM cscored) WHERE rn = 1),
      |csized AS (SELECT cell_id, count(*) AS cell_n FROM cells GROUP BY 1)""".stripMargin

  private val d13SemanticDedupSql =
    s"""WITH RECURSIVE $semCellsSql,
      |ckeep AS (
      |  SELECT c.vec_id, c.cell_id
      |  FROM cells c JOIN csized s ON c.cell_id = s.cell_id
      |  WHERE s.cell_n <= 1000),
      |cand AS (
      |  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
      |  FROM ckeep ca JOIN ckeep cb
      |    ON ca.cell_id = cb.cell_id AND ca.vec_id < cb.vec_id),
      |pairs AS (
      |  SELECT p.id_a, p.id_b
      |  FROM cand p
      |  JOIN un a ON a.vec_id = p.id_a
      |  JOIN un b ON b.vec_id = p.id_b AND b.i = a.i
      |  JOIN norms na ON na.vec_id = p.id_a
      |  JOIN norms nb ON nb.vec_id = p.id_b
      |  GROUP BY 1, 2, na.n2, nb.n2
      |  HAVING round(sum(a.x * b.x) / (sqrt(na.n2) * sqrt(nb.n2)), 4) >= 0.99),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |  UNION ALL SELECT vec_id, vec_id FROM feed),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (SELECT src AS vec_id, min(dst) AS canonical_id FROM reach GROUP BY 1)
      |SELECT c.vec_id, cl.cell_id, c.canonical_id,
      |  c.vec_id = c.canonical_id AS is_canonical,
      |  count(*) OVER (PARTITION BY c.canonical_id) AS cluster_n
      |FROM comp c JOIN cells cl ON cl.vec_id = c.vec_id
      |ORDER BY c.vec_id""".stripMargin

  /** d13b: the refusal audit for d13's cell cap — one row per cell whose
    * population exceeds the cap, i.e. "what did semantic dedup refuse to
    * pair, and how big was it". Cap 30 here (vs d13's production 1000) so
    * the audit provably fires on the gate corpus: 510 vectors over 16
    * cells puts the largest cell >= 32 by pigeonhole. Companion to the
    * text path's d2d_lsh_dropped. */
  private val d13bSemanticRefusals: Q = (spark, dir) =>
    graft.operators.VectorSearch
      .droppedCells(semCells(spark, dir), "cell_id", maxCell = 30)
      .orderBy("cell_id")

  private val d13bSemanticRefusalsSql =
    s"""WITH $semCellsSql
      |SELECT cell_id, cell_n FROM csized WHERE cell_n > 30
      |ORDER BY cell_id""".stripMargin

  // ------------------------------------------------------------------ product quantization
  /** Product-quantization codes (Jégou et al., TPAMI 2011 — public): the
    * 64-dim embedding split into 8 subspaces of 8 dims, each subvector
    * snapped to its nearest of 4 codebook centroids (deterministic
    * stand-ins: the subvectors of vec_id < 4, the same convention as v5's
    * IVF centroids). Output is the 8-byte code word (c0..c7) + squared
    * reconstruction error — the memory layout an ANN index at 100 TB
    * actually stores (8 bytes/vector instead of 256). Shape: one narrow
    * explode to (vector, subspace), a broadcast join against the 32-row
    * codebook, and `min(struct(d2, k))` argmin aggregation — map-side
    * partial, no window sort; the only shuffle is the two keyed
    * hash-aggregations, linear in corpus size. */
  private val v12PqCodes: Q = (spark, dir) => {
    val emb = Tables.embeddings(spark, dir)
    val subs = emb.select(col("vec_id"),
      explode(array((0 until 8).map(s =>
        struct(lit(s).as("sub"), slice(col("embedding"), s * 8 + 1, 8).as("v"))): _*)).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.v").as("v"))
    val codebook = subs.filter(col("vec_id") < 4)
      .select(col("sub"), col("vec_id").as("k"), col("v").as("c"))
    // fixed-order fold: deterministic double sum, same order as the oracle
    val sqDist = expr(
      """aggregate(zip_with(v, c,
        |  (a, b) -> (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),
        |  0D, (acc, x) -> acc + x)""".stripMargin)
    val best = subs.join(broadcast(codebook), "sub")
      .withColumn("d2", round(sqDist, 4))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("k"))).as("best"))
      .select(col("vec_id"), col("sub"),
        col("best.k").as("k"), col("best.d2").as("d2"))
    val codeCols = (0 until 8).map(s =>
      max(when(col("sub") === s, col("k"))).as(s"c$s")) :+
      round(sum("d2"), 4).as("recon_err")
    best.groupBy("vec_id")
      .agg(codeCols.head, codeCols.tail: _*)
      .orderBy("vec_id")
  }

  private val v12PqCodesSql = {
    val codeSel = (0 until 8)
      .map(s => s"max(CASE WHEN sub = $s THEN k END) AS c$s").mkString(",\n  ")
    s"""WITH $unnestSql,
       |sub AS (
       |  SELECT vec_id, CAST((i - 1) // 8 AS INTEGER) AS sub,
       |    CAST((i - 1) % 8 AS INTEGER) AS d, x
       |  FROM un),
       |cb AS (SELECT vec_id AS k, sub, d, x AS c FROM sub WHERE vec_id < 4),
       |dist AS (
       |  SELECT s.vec_id, s.sub, c.k,
       |    round(sum((s.x - c.c) * (s.x - c.c)), 4) AS d2
       |  FROM sub s JOIN cb c ON c.sub = s.sub AND c.d = s.d
       |  GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT vec_id, sub, k, d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY d2, k) AS rn
       |    FROM dist) WHERE rn = 1)
       |SELECT vec_id,
       |  $codeSel,
       |  round(sum(d2), 4) AS recon_err
       |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------------------------ PQ asymmetric-distance search
  /** v13: ADC (asymmetric distance computation) top-k over the v12 PQ
    * codes — the canonical billion-vector search kernel: the corpus is
    * stored ONLY as m=8 one-byte codes per vector; a query builds an
    * m x k lookup table of exact subspace distances (query sub-vector to
    * each centroid), and each candidate's approximate distance is m LUT
    * probes summed — no corpus-side float math at all.
    *
    * Scale shape: the LUT (queries x 8 subs x k centroids, here 96 rows)
    * broadcasts; the probe is a broadcast hash join against the code
    * table followed by a partial-aggregated sum, so the corpus never
    * shuffles and scan cost is 8 bytes/vector. Per-query top-k
    * partitions by q_id (query batches are the parallelism unit).
    * Distances accumulate in DECIMAL(18,4) so the 8-way sum is exact and
    * order-independent (double addition is not associative), then cast
    * back to double for the oracle compare. */
  private val v13PqAdc: Q = (spark, dir) => {
    val emb = Tables.embeddings(spark, dir)
    val subs = emb.select(col("vec_id"),
      explode(array((0 until 8).map(s =>
        struct(lit(s).as("sub"), slice(col("embedding"), s * 8 + 1, 8).as("v"))): _*)).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.v").as("v"))
    val codebook = subs.filter(col("vec_id") < 4)
      .select(col("sub"), col("vec_id").as("k"), col("v").as("c"))
    val sqDist = expr(
      """aggregate(zip_with(v, c,
        |  (a, b) -> (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),
        |  0D, (acc, x) -> acc + x)""".stripMargin)
    val dist = subs.join(broadcast(codebook), "sub")
      .withColumn("d2", round(sqDist, 4))
    val codes = dist
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("k"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.k").as("k"))
    val lut = dist.filter(col("vec_id") >= 4 && col("vec_id") < 7)
      .select(col("vec_id").as("q_id"), col("sub"), col("k"), col("d2").as("ld"))
    val adc = codes.join(broadcast(lut), Seq("sub", "k"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("ld").cast("decimal(18,4)")).cast("double").as("adc"))
    adc.withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))).cast("int"))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "vec_id", "adc")
      .orderBy("q_id", "rank")
  }

  private val v13PqAdcSql =
    s"""WITH $unnestSql,
       |sub AS (
       |  SELECT vec_id, CAST((i - 1) // 8 AS INTEGER) AS sub,
       |    CAST((i - 1) % 8 AS INTEGER) AS d, x
       |  FROM un),
       |cb AS (SELECT vec_id AS k, sub, d, x AS c FROM sub WHERE vec_id < 4),
       |dist AS (
       |  SELECT s.vec_id, s.sub, c.k,
       |    round(sum((s.x - c.c) * (s.x - c.c)), 4) AS d2
       |  FROM sub s JOIN cb c ON c.sub = s.sub AND c.d = s.d
       |  GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT vec_id, sub, k FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY d2, k) AS rn
       |    FROM dist) WHERE rn = 1),
       |lut AS (
       |  SELECT vec_id AS q_id, sub, k, d2 AS ld
       |  FROM dist WHERE vec_id >= 4 AND vec_id < 7),
       |adc AS (
       |  SELECT l.q_id, b.vec_id,
       |    CAST(sum(CAST(l.ld AS DECIMAL(18,4))) AS DOUBLE) AS adc
       |  FROM best b JOIN lut l ON l.sub = b.sub AND l.k = b.k
       |  WHERE b.vec_id <> l.q_id GROUP BY 1, 2),
       |topk AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc, vec_id) AS INTEGER) AS rank FROM adc)
       |SELECT q_id, rank, vec_id, adc FROM topk WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------ IVF+PQ composed end-to-end search
  /** v14: the composed billion-vector serving plan — v5/v7's IVF probe,
    * v13's PQ asymmetric-distance scan, and an exact top-k rerank, in one
    * query: assign every vector to its best IVF cell; PQ-encode the corpus
    * to 8 one-byte codes; per query, probe the top-2 cells, ADC-score only
    * candidates inside them through the broadcast LUT, shortlist the 10
    * best ADC candidates, and exact-cosine rerank to the final top-3. The
    * output carries recall@3 against the brute-force exact top-3 so the
    * approximation quality is a GATED number, not a claim. Because the
    * corpus is random noise (near-uniform similarity — nothing for an ANN
    * index to find), the feed plants three exact copies of each query (the
    * d5 convention): the true top-3. Every stage must then cooperate for
    * recall 1.0 — copies land in the query's own best cell (IVF), carry
    * the query's own optimal code word so their ADC is the attainable
    * minimum (PQ), survive the shortlist, and rerank to the top (exact).
    *
    * Scale shape: every small side broadcasts (16 centroids, 32-row
    * codebook, 96-row LUT, 6 probe rows, 30-row shortlist); the corpus is
    * touched by narrow passes only (assign, encode, ADC probe) and never
    * shuffles on anything wider than its own aggregation keys. At 10^9
    * vectors the ADC scan reads 8 bytes/vector within probed cells — the
    * IVF-PQ trade exactly as production vector stores run it; the exact
    * rerank touches `shortlist` full vectors per query, not the corpus.
    * (The brute-force recall leg is gate instrumentation, dropped in
    * production serving.) */
  /** The IVF+PQ index artifacts shared by `v14` (in-memory) and `v15`
    * (persisted + reloaded): corpus feed with planted neighbors, IVF
    * centroids + cell assignment, PQ codebook + per-vector codes, and the
    * query set. `dist` (sub-distances of every vector to every code word)
    * is the shared intermediate: corpus rows of it collapse into `codes`
    * at BUILD time, query rows become the ADC LUT at SERVE time. */
  private final case class IvfPqIndex(
      emb: DataFrame, centroids: DataFrame, assigned: DataFrame,
      codebook: DataFrame, codes: DataFrame, dist: DataFrame, queries: DataFrame)

  /** `trainedCentroids = false` (v14/v16): sampled coarse quantizer, the
    * 16 lowest-id feed vectors verbatim. `true` (v15): the coarse
    * quantizer is LOOP-TRAINED — [[graft.operators.Lloyd.train]] to a
    * fixpoint (≤ [[LloydIters]] rounds, integer-exact) over the quantized
    * feed, served as exact `cm/1000` double arrays. The planted query
    * copies keep landing in their query's best cell under ANY centroid
    * set (identical vectors score identically), so the recall gate stays
    * meaningful for both quantizers. */
  private def buildIvfPq(spark: SparkSession, dir: String,
                         trainedCentroids: Boolean = false): IvfPqIndex = {
    graft.plans.GraftFunctions.register(spark)
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // planted true neighbors: 3 exact copies of each query (ids +10k/+20k/+30k)
    val planted = (1 to 3).map(j =>
        base.filter(col("vec_id") >= 4 && col("vec_id") < 7)
          .select((col("vec_id") + j * 10000).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val emb = base.unionByName(planted)
    // IVF index build (v5/v7 semantics): best cell per vector
    val centroids =
      if (trainedCentroids) {
        val qvecs = quantizedVecs(emb).coalesce(1).cache()
        try graft.operators.Lloyd.train(spark, qvecs, k = 16, maxIters = LloydIters)
          .centroidFrame(spark)
        finally { qvecs.unpersist(); () }
      } else emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("c_sim", round(expr("cosine_sim(embedding, c_emb)"), 4))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("c_sim").desc, col("centroid_id"))))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("centroid_id"))
    // PQ corpus codes (v12 semantics: codebook = subvectors of vec_id < 4)
    val subs = emb.select(col("vec_id"),
      explode(array((0 until 8).map(s =>
        struct(lit(s).as("sub"), slice(col("embedding"), s * 8 + 1, 8).as("v"))): _*)).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.v").as("v"))
    val codebook = subs.filter(col("vec_id") < 4)
      .select(col("sub"), col("vec_id").as("k"), col("v").as("c"))
    // narrow shared projection: both consumers (corpus codes, v14's
    // query-side ADC LUT) read only (vec_id, sub, k, d2). NOT persisted:
    // the r16 A/B measured the r15 persist as a loss on every consumer
    // (v14 2.60→2.13, v15 6.46→5.84, v16 4.44→3.90 without it) — the
    // explode × broadcast-join distance kernel recomputes cheaper than
    // the 16-partition materialization it was traded for (the r15
    // verdict flagged it perf-weak; reverted on evidence).
    val dist = subs.join(broadcast(codebook), "sub")
      .withColumn("d2", round(pqSqDist, 4))
      .select("vec_id", "sub", "k", "d2")
    val codes = dist.groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("k"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.k").as("k"))
    val queries = emb.filter(col("vec_id") >= 4 && col("vec_id") < 7)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    IvfPqIndex(emb, centroids, assigned, codebook, codes, dist, queries)
  }

  /** Exact squared distance between a subvector `v` and a code word `c`
    * (8-way double sum) — the PQ kernel shared by build and serve. */
  private val pqSqDist = expr(
    """aggregate(zip_with(v, c,
      |  (a, b) -> (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),
      |  0D, (acc, x) -> acc + x)""".stripMargin)

  /** The IVF+PQ serving side, shared verbatim by `v14` (artifacts straight
    * from the build) and `v15` (artifacts reloaded from the persisted
    * index): probe top-2 cells, ADC-score candidates inside them through
    * the broadcast LUT, shortlist 10, exact-rerank to top-3, and gate
    * recall@3 against brute force. */
  private def serveIvfPq(emb: DataFrame, centroids: DataFrame,
                         assigned: DataFrame, codes: DataFrame,
                         lut: DataFrame, queries: DataFrame): DataFrame = {
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", round(expr("cosine_sim(q_emb, c_emb)"), 4))
      .withColumn("crn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("c_sim").desc, col("centroid_id"))))
      .filter(col("crn") <= 2)
      .select("q_id", "centroid_id")
    // ADC over candidates inside probed cells only (decimal: exact 8-way sum)
    val cands = assigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
    val adc = cands.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "sub", "k"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("ld").cast("decimal(18,4)")).cast("double").as("adc"))
    val shortlist = adc.withColumn("arn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))))
      .filter(col("arn") <= 10)
      .select("q_id", "vec_id")
    // exact rerank of the shortlist
    val rer = broadcast(shortlist)
      .join(emb.select(col("vec_id"), col("embedding").as("cand_emb")), Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cos_sim", round(expr("cosine_sim(q_emb, cand_emb)"), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))).cast("int"))
      .filter(col("rnk") <= 3)
    // recall@3 vs the brute-force exact top-3 (gate instrumentation)
    val exact = emb.select(col("vec_id").as("cand_id"), col("embedding").as("e_emb"))
      .crossJoin(broadcast(queries))
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("e_sim", round(expr("cosine_sim(q_emb, e_emb)"), 4))
      .withColumn("ern", row_number().over(
        Window.partitionBy("q_id").orderBy(col("e_sim").desc, col("cand_id"))))
      .filter(col("ern") <= 3)
      .select(col("q_id"), col("cand_id"))
    val hits = rer.select(col("q_id"), col("vec_id"))
      .join(exact, Seq("q_id"))
      .filter(col("vec_id") === col("cand_id"))
      .groupBy("q_id").agg(count(lit(1)).as("nhit"))
    rer.join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("cos_sim"),
        round(coalesce(col("nhit"), lit(0L)) / 3.0, 4).as("recall_at_3"))
      .orderBy("q_id", "rnk")
  }

  private val v14IvfpqSearch: Q = (spark, dir) => {
    val ix = buildIvfPq(spark, dir)
    // query rows of the shared sub-distance frame ARE the ADC LUT
    val lut = ix.dist.filter(col("vec_id") >= 4 && col("vec_id") < 7)
      .select(col("vec_id").as("q_id"), col("sub"), col("k"), col("d2").as("ld"))
    serveIvfPq(ix.emb, ix.centroids, ix.assigned, ix.codes, lut, ix.queries)
  }

  /** v15: build-once / serve-many. The four index artifacts — IVF
    * centroids, cell assignment, PQ codebook, per-vector codes — are
    * committed to transactional commit-log tables and the v14 search runs
    * entirely FROM THE RELOADED copies (the query-side LUT is recomputed
    * against the loaded codebook, as a serving process that never saw the
    * build would). Unlike v14's sampled quantizer, the PERSISTED centroids
    * here are LOOP-TRAINED ([[graft.operators.Lloyd.train]] to a fixpoint,
    * integer-exact) — the real nightly index build; the oracle replays the
    * training loop unrolled plus the identical serve. Persistence must be
    * bit-exact through parquet and the log, or the hash check fails. This
    * is the production vector-store lifecycle — a nightly build job
    * commits the index, serving jobs snapshot-read it, and the
    * commit-log's atomicity means a rebuild lands as one version flip,
    * never a half-updated index. */
  private val v15IndexPersist: Q = (spark, dir) => {
    import java.nio.file.Paths
    val ix = buildIvfPq(spark, dir, trainedCentroids = true)
    val root = Paths.get(Sinks.scratchDir("vector_index"))
    Sinks.deleteTree(root)
    def persist(df: DataFrame, name: String): DataFrame = {
      val t = root.resolve(name).toString
      graft.io.CommitLog.append(df, t)
      graft.io.CommitLog.read(spark, t)
    }
    val centroids = persist(ix.centroids, "centroids")
    val assigned = persist(ix.assigned, "assigned")
    val codebook = persist(ix.codebook, "codebook")
    val codes = persist(ix.codes, "codes")
    // serving-side LUT: query subvectors against the LOADED codebook
    val qsubs = ix.queries.select(col("q_id"),
      explode(array((0 until 8).map(s =>
        struct(lit(s).as("sub"), slice(col("q_emb"), s * 8 + 1, 8).as("v"))): _*)).as("sv"))
      .select(col("q_id"), col("sv.sub").as("sub"), col("sv.v").as("v"))
    val lut = qsubs.join(broadcast(codebook), "sub")
      .withColumn("ld", round(pqSqDist, 4))
      .select("q_id", "sub", "k", "ld")
    serveIvfPq(ix.emb, centroids, assigned, codes, lut, ix.queries)
  }

  /** v16: INCREMENTAL index maintenance — the daily reality of a vector
    * store, where new embeddings arrive but retraining centroids/codebook
    * per batch is unaffordable. The batch (a 4th planted copy set,
    * +40000) is assigned and PQ-encoded against the FROZEN artifacts
    * reloaded from the committed index (broadcast joins, batch-sized —
    * the corpus is never touched), and the new `assigned`/`codes` rows
    * land as commit-log appends: two atomic version flips, readers see
    * before/after but never half. Because assignment and encoding are
    * deterministic functions of the frozen artifacts, the incrementally
    * maintained index must EQUAL a from-scratch build over the union —
    * which is exactly what the oracle computes (the v14 twin with the
    * extended feed), so the hash gate proves no-rebuild updates are
    * lossless. Serving is verbatim v14/v15.
    *
    * Scale shape: per batch, work is O(batch x centroids) + O(batch x
    * codebook) with all index sides broadcast; the existing corpus codes
    * are untouched parquet. Centroid drift over many batches is the known
    * trade — production re-trains offline and swaps via one commit, the
    * v15 lifecycle. */
  private val v16IvfIncremental: Q = (spark, dir) => {
    import java.nio.file.Paths
    val ix = buildIvfPq(spark, dir)
    val root = Paths.get(Sinks.scratchDir("vector_index_incr"))
    Sinks.deleteTree(root)
    def persist(df: DataFrame, name: String): String = {
      val t = root.resolve(name).toString
      graft.io.CommitLog.append(df, t)
      t
    }
    val centroidsT = persist(ix.centroids, "centroids")
    val assignedT = persist(ix.assigned, "assigned")
    val codebookT = persist(ix.codebook, "codebook")
    val codesT = persist(ix.codes, "codes")
    val centroids = graft.io.CommitLog.read(spark, centroidsT)
    val codebook = graft.io.CommitLog.read(spark, codebookT)
    // ---- the incremental batch: assign + encode against frozen artifacts
    val batch = Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= 4 && col("vec_id") < 7)
      .select((col("vec_id") + 40000).as("vec_id"), col("embedding"))
    val assignedB = batch.crossJoin(broadcast(centroids))
      .withColumn("c_sim", round(expr("cosine_sim(embedding, c_emb)"), 4))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("c_sim").desc, col("centroid_id"))))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("centroid_id"))
    val subsB = batch.select(col("vec_id"),
      explode(array((0 until 8).map(s =>
        struct(lit(s).as("sub"), slice(col("embedding"), s * 8 + 1, 8).as("v"))): _*)).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.v").as("v"))
    val codesB = subsB.join(broadcast(codebook), "sub")
      .withColumn("d2", round(pqSqDist, 4))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("k"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.k").as("k"))
    graft.io.CommitLog.append(assignedB, assignedT)
    graft.io.CommitLog.append(codesB, codesT)
    // ---- serve from the post-append snapshot reads
    val assigned = graft.io.CommitLog.read(spark, assignedT)
    val codes = graft.io.CommitLog.read(spark, codesT)
    val embAll = ix.emb.unionByName(batch)
    val qsubs = ix.queries.select(col("q_id"),
      explode(array((0 until 8).map(s =>
        struct(lit(s).as("sub"), slice(col("q_emb"), s * 8 + 1, 8).as("v"))): _*)).as("sv"))
      .select(col("q_id"), col("sv.sub").as("sub"), col("sv.v").as("v"))
    val lut = qsubs.join(broadcast(codebook), "sub")
      .withColumn("ld", round(pqSqDist, 4))
      .select("q_id", "sub", "k", "ld")
    serveIvfPq(embAll, centroids, assigned, codes, lut, ix.queries)
  }

  /** v14's coarse quantizer in SQL: the 16 lowest-id feed vectors,
    * cosine-scored against every feed vector. Must produce `cscored`
    * (vec_id, centroid_id, c_sim) — the one CTE the serve tail consumes. */
  private val sampledCentroidCtes =
    """cdots AS (
      |  SELECT b.vec_id, a.vec_id AS centroid_id, sum(a.x * b.x) AS dot
      |  FROM un a JOIN un b ON a.i = b.i
      |  WHERE a.vec_id < 16
      |  GROUP BY 1, 2),
      |cscored AS (
      |  SELECT d.vec_id, d.centroid_id,
      |    round(d.dot / (sqrt(nb.n2) * sqrt(na.n2)), 4) AS c_sim
      |  FROM cdots d
      |  JOIN norms na ON na.vec_id = d.centroid_id
      |  JOIN norms nb ON nb.vec_id = d.vec_id)""".stripMargin

  /** v15's coarse quantizer in SQL: the Lloyd chain over the feed, final
    * centroids served as exact `cm/1000` doubles, cosine-scored against
    * every feed vector — same `cscored` contract as the sampled form. */
  private val trainedCentroidCtes =
    s"""${lloydChainSql(k = 16, iters = LloydIters, feed = "feed")},
       |cnorms AS (
       |  SELECT centroid_id,
       |    sum((CAST(cm AS DOUBLE) / 1000.0) * (CAST(cm AS DOUBLE) / 1000.0)) AS cn2
       |  FROM cent_$LloydIters GROUP BY 1),
       |cdots AS (
       |  SELECT b.vec_id, c.centroid_id, sum(b.x * (CAST(c.cm AS DOUBLE) / 1000.0)) AS dot
       |  FROM un b JOIN cent_$LloydIters c ON c.dim = b.i - 1
       |  GROUP BY 1, 2),
       |cscored AS (
       |  SELECT d.vec_id, d.centroid_id,
       |    round(d.dot / (sqrt(nb.n2) * sqrt(cn.cn2)), 4) AS c_sim
       |  FROM cdots d
       |  JOIN cnorms cn ON cn.centroid_id = d.centroid_id
       |  JOIN norms nb ON nb.vec_id = d.vec_id)""".stripMargin

  /** The IVF+PQ serve pipeline in SQL, parameterized by the coarse-
    * quantizer CTEs (must define `cscored`): shared by v14 (sampled),
    * v15 (Lloyd-trained) and v16 (sampled over the extended feed). */
  private def ivfPqServeSql(centroidCtes: String) =
    s"""WITH feed AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000 * CAST(j.j AS INTEGER) AS vec_id, embedding
       |  FROM embeddings, generate_series(1, 3) j(j)
       |  WHERE vec_id >= 4 AND vec_id < 7),
       |un AS (
       |  SELECT vec_id, CAST(i.i AS INTEGER) AS i, CAST(embedding[CAST(i.i AS INTEGER)] AS DOUBLE) AS x
       |  FROM feed, generate_series(1, 64) i(i)),
       |norms AS (SELECT vec_id, sum(x * x) AS n2 FROM un GROUP BY 1),
       |$centroidCtes,
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c_sim DESC, centroid_id) AS crn
       |    FROM cscored) WHERE crn = 1),
       |sub AS (
       |  SELECT vec_id, CAST((i - 1) // 8 AS INTEGER) AS sub,
       |    CAST((i - 1) % 8 AS INTEGER) AS d, x
       |  FROM un),
       |cb AS (SELECT vec_id AS k, sub, d, x AS c FROM sub WHERE vec_id < 4),
       |dist AS (
       |  SELECT s.vec_id, s.sub, c.k,
       |    round(sum((s.x - c.c) * (s.x - c.c)), 4) AS d2
       |  FROM sub s JOIN cb c ON c.sub = s.sub AND c.d = s.d
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, sub, k FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY d2, k) AS rn
       |    FROM dist) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c_sim DESC, centroid_id) AS crn
       |    FROM cscored WHERE vec_id >= 4 AND vec_id < 7) WHERE crn <= 2),
       |lut AS (
       |  SELECT vec_id AS q_id, sub, k, d2 AS ld
       |  FROM dist WHERE vec_id >= 4 AND vec_id < 7),
       |cands AS (
       |  SELECT p.q_id, a.vec_id
       |  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
       |  WHERE a.vec_id <> p.q_id),
       |adc AS (
       |  SELECT c.q_id, c.vec_id,
       |    CAST(sum(CAST(l.ld AS DECIMAL(18,4))) AS DOUBLE) AS adc
       |  FROM cands c
       |  JOIN codes b ON b.vec_id = c.vec_id
       |  JOIN lut l ON l.q_id = c.q_id AND l.sub = b.sub AND l.k = b.k
       |  GROUP BY 1, 2),
       |shortlist AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS arn FROM adc) WHERE arn <= 10),
       |qdots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id, sum(a.x * b.x) AS dot
       |  FROM un a JOIN un b ON a.i = b.i
       |  WHERE a.vec_id >= 4 AND a.vec_id < 7
       |  GROUP BY 1, 2),
       |qscored AS (
       |  SELECT d.q_id, d.vec_id,
       |    round(d.dot / (sqrt(nq.n2) * sqrt(nc.n2)), 4) AS cos_sim
       |  FROM qdots d
       |  JOIN norms nq ON nq.vec_id = d.q_id
       |  JOIN norms nc ON nc.vec_id = d.vec_id),
       |rer AS (
       |  SELECT s.q_id, s.vec_id, q.cos_sim,
       |    CAST(row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY q.cos_sim DESC, s.vec_id) AS INTEGER) AS rnk
       |  FROM shortlist s JOIN qscored q ON q.q_id = s.q_id AND q.vec_id = s.vec_id),
       |exact AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id) AS ern
       |    FROM qscored WHERE q_id <> vec_id) WHERE ern <= 3),
       |hits AS (
       |  SELECT r.q_id, count(*) AS nhit
       |  FROM rer r JOIN exact e ON e.q_id = r.q_id AND e.vec_id = r.vec_id
       |  WHERE r.rnk <= 3
       |  GROUP BY 1)
       |SELECT r.q_id, r.rnk, r.vec_id AS neighbor_id, r.cos_sim,
       |  round(coalesce(h.nhit, 0) / 3.0, 4) AS recall_at_3
       |FROM rer r LEFT JOIN hits h ON h.q_id = r.q_id
       |WHERE r.rnk <= 3
       |ORDER BY r.q_id, r.rnk""".stripMargin

  private val v14IvfpqSearchSql = ivfPqServeSql(sampledCentroidCtes)
  private val v15IndexPersistSql = ivfPqServeSql(trainedCentroidCtes)

  // ------------------------------------------------------------------ audio energy / silence windows
  /** m5: the audio half of the multimodal surface — PCM16LE payloads as
    * opaque binary columns, decoded executor-side (a REAL byte parse, not
    * a stub: little-endian shorts), folded into fixed 256-sample energy
    * windows with integer sum-of-squares / sum-of-abs and a silence flag.
    * Silence detection over energy windows is the standard first pass of
    * any audio curation pipeline (VAD pre-filter). The waveform is a
    * deterministic integer formula (every third window muted), so the
    * DuckDB oracle replays the whole thing exactly — all-BIGINT outputs,
    * no float rounding anywhere.
    *
    * Scale shape: synth + decode + fold run in one narrow mapPartitions
    * pass (payloads never shuffle); only the tiny per-window rows move. */
  /** Shared by m5/m6: synth PCM16LE payloads, decode executor-side,
    * fold into 256-sample energy windows (see m5's scaladoc). */
  private def audioEnergyWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id") < 50).select("doc_id")
    val pcm = docs.as[Long].map { id =>
      val n = 2048
      val bb = java.nio.ByteBuffer.allocate(n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        val s = if ((i / 256) % 3 == 2) 0L
                else (id * 31 + i * 7919) % 2048 - 1024
        bb.putShort(s.toShort)
        i += 1
      }
      (id, bb.array())
    }.toDF("doc_id", "pcm")
    pcm.as[(Long, Array[Byte])].flatMap { case (id, bytes) =>
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = bytes.length / 2
      (0 until n / 256).map { w =>
        var sumSq = 0L
        var sumAbs = 0L
        var i = w * 256
        while (i < (w + 1) * 256) {
          val s = bb.getShort(i * 2).toLong
          sumSq += s * s
          sumAbs += math.abs(s)
          i += 1
        }
        (id, w, n, n * 1000 / 16000, sumSq, sumAbs, sumSq == 0L)
      }
    }.toDF("doc_id", "window_idx", "n_samples", "duration_ms",
        "sum_sq", "sum_abs", "is_silence")
  }

  private val m5AudioEnergy: Q = (spark, dir) =>
    audioEnergyWindows(spark, dir).orderBy("doc_id", "window_idx")

  private val m5AudioEnergySql =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |samples AS (
      |  SELECT d.doc_id, i.i AS i,
      |    CASE WHEN (i.i // 256) % 3 = 2 THEN 0
      |         ELSE (d.doc_id * 31 + i.i * 7919) % 2048 - 1024 END AS s
      |  FROM d, generate_series(0, 2047) i(i)),
      |w AS (
      |  SELECT doc_id, CAST(i // 256 AS INTEGER) AS window_idx,
      |    CAST(sum(s * s) AS BIGINT) AS sum_sq,
      |    CAST(sum(abs(s)) AS BIGINT) AS sum_abs
      |  FROM samples GROUP BY 1, 2)
      |SELECT doc_id, window_idx, CAST(2048 AS INTEGER) AS n_samples,
      |  CAST(128 AS INTEGER) AS duration_ms,
      |  sum_sq, sum_abs, sum_sq = 0 AS is_silence
      |FROM w ORDER BY doc_id, window_idx""".stripMargin

  // ------------------------------------------------------------------ VAD utterance segments
  /** m6: the step after m5's silence flags — merge consecutive voiced
    * windows into utterance SEGMENTS (start/end/duration/energy), the
    * gaps-and-islands pattern every speech-curation pipeline runs before
    * transcription: a new segment opens where the voiced window sequence
    * has a gap, segment ids are a running sum of those opens, and one
    * keyed agg emits the per-utterance envelope. All windows are
    * partitioned by media id (never a global order-by), arithmetic is
    * integer end-to-end, and the window stream comes from the same
    * executor-side PCM decode as m5 — payloads still never shuffle. */
  private val m6VadSegments: Q = (spark, dir) => {
    val act = audioEnergyWindows(spark, dir)
      .filter(!col("is_silence"))
      .select("doc_id", "window_idx", "sum_sq")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("window_idx")
    act
      .withColumn("new_seg",
        when(col("window_idx") -
          coalesce(lag("window_idx", 1).over(w), lit(-2)) > 1, 1).otherwise(0))
      .withColumn("seg_idx", sum("new_seg").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "seg_idx")
      .agg(min("window_idx").as("start_window"),
        max("window_idx").as("end_window"),
        count(lit(1)).as("n_windows"),
        (min("window_idx") * 16).as("start_ms"),
        ((max("window_idx") + 1) * 16).as("end_ms"),
        sum("sum_sq").as("energy"))
      .orderBy("doc_id", "seg_idx")
  }

  private val m6VadSegmentsSql =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |samples AS (
      |  SELECT d.doc_id, i.i AS i,
      |    CASE WHEN (i.i // 256) % 3 = 2 THEN 0
      |         ELSE (d.doc_id * 31 + i.i * 7919) % 2048 - 1024 END AS s
      |  FROM d, generate_series(0, 2047) i(i)),
      |w AS (
      |  SELECT doc_id, CAST(i // 256 AS INTEGER) AS window_idx,
      |    CAST(sum(s * s) AS BIGINT) AS sum_sq
      |  FROM samples GROUP BY 1, 2),
      |act AS (SELECT * FROM w WHERE sum_sq <> 0),
      |f AS (
      |  SELECT *, CASE WHEN window_idx - coalesce(lag(window_idx)
      |      OVER (PARTITION BY doc_id ORDER BY window_idx), -2) > 1
      |    THEN 1 ELSE 0 END AS new_seg
      |  FROM act),
      |s AS (
      |  SELECT *, CAST(sum(new_seg) OVER (PARTITION BY doc_id ORDER BY window_idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg_idx
      |  FROM f)
      |SELECT doc_id, seg_idx,
      |  min(window_idx) AS start_window, max(window_idx) AS end_window,
      |  count(*) AS n_windows,
      |  CAST(min(window_idx) * 16 AS INTEGER) AS start_ms,
      |  CAST((max(window_idx) + 1) * 16 AS INTEGER) AS end_ms,
      |  CAST(sum(sum_sq) AS BIGINT) AS energy
      |FROM s GROUP BY 1, 2 ORDER BY doc_id, seg_idx""".stripMargin

  // ------------------------------------------------------------------ registry
  val queries: Map[String, Q] = Map(
    "m6_vad_segments" -> m6VadSegments,
    "m4_phash_neardup" -> m4PhashNeardup,
    "d13_semantic_dedup" -> d13SemanticDedup,
    "d13b_semantic_refusals" -> d13bSemanticRefusals,
    "v12_pq_codes" -> v12PqCodes,
    "v11_ann_recall" -> v11AnnRecall,
    "v8_quantize" -> v8Quantize,
    "v9_norm_outliers" -> v9NormOutliers,
    "v10_kmeans_step" -> v10KmeansStep,
    "v1_cosine_topk" -> v1CosineTopk,
    "v2_lsh_buckets" -> v2LshBuckets,
    "v3_ann_bucket" -> v3AnnBucket,
    "v4_cosine_native" -> v4CosineNative,
    "v5_ivf_assign" -> v5IvfAssign,
    "v6_multiprobe_ann" -> v6MultiprobeAnn,
    "v7_ivf_search" -> v7IvfSearch,
    "d5_embedding_neardup" -> d5EmbeddingNeardup,
    "m1_media_meta" -> m1MediaMeta,
    "m2_frame_sample" -> m2FrameSample,
    "m3_frame_dedup" -> m3FrameDedup,
    "m5_audio_energy" -> m5AudioEnergy,
    "v13_pq_adc" -> v13PqAdc,
    "v14_ivfpq_search" -> v14IvfpqSearch,
    "v15_index_persist" -> v15IndexPersist,
    "v15b_lloyd_centroids" -> v15bLloydCentroids,
    "v16_ivf_incremental" -> v16IvfIncremental
  )

  val oracle: Map[String, String] = Map(
    "m4_phash_neardup" -> m4PhashNeardupSql,
    "d13_semantic_dedup" -> d13SemanticDedupSql,
    "d13b_semantic_refusals" -> d13bSemanticRefusalsSql,
    "v12_pq_codes" -> v12PqCodesSql,
    "v11_ann_recall" -> v11AnnRecallSql,
    "v8_quantize" -> v8QuantizeSql,
    "v9_norm_outliers" -> v9NormOutliersSql,
    "v10_kmeans_step" -> v10KmeansStepSql,
    "v1_cosine_topk" -> v1CosineTopkSql,
    "v2_lsh_buckets" -> v2LshBucketsSql,
    "v3_ann_bucket" -> v3AnnBucketSql,
    "v4_cosine_native" -> v1CosineTopkSql,
    "v5_ivf_assign" -> v5IvfAssignSql,
    "v6_multiprobe_ann" -> v6MultiprobeAnnSql,
    "v7_ivf_search" -> v7IvfSearchSql,
    "d5_embedding_neardup" -> d5EmbeddingNeardupSql,
    "m1_media_meta" -> m1MediaMetaSql,
    "m2_frame_sample" -> m2FrameSampleSql,
    "m3_frame_dedup" -> m3FrameDedupSql,
    "m5_audio_energy" -> m5AudioEnergySql,
    "m6_vad_segments" -> m6VadSegmentsSql,
    "v13_pq_adc" -> v13PqAdcSql,
    "v14_ivfpq_search" -> v14IvfpqSearchSql,
    "v15_index_persist" -> v15IndexPersistSql,
    "v15b_lloyd_centroids" -> v15bLloydCentroidsSql,
    // the v14 twin over the union feed: a from-scratch rebuild, which the
    // incrementally maintained index must equal exactly
    "v16_ivf_incremental" -> v14IvfpqSearchSql.replace(
      "generate_series(1, 3) j(j)", "generate_series(1, 4) j(j)")
  )
}
