package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.operators.TextPipeline

/** Text-analysis + deduplication operator catalog over `documents`
  * (north-star LLM-pipeline surface: exact dedup, minhash+LSH, simhash,
  * n-gram jaccard, language-ID, quality scoring, token counting,
  * fingerprinting). Marker/stopword lists in the oracle SQL are generated
  * from the same Scala values the Spark expressions use. */
object TextDedupQueries {

  type Q = (SparkSession, String) => DataFrame

  private def sdocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** Documents feed spread to compute parallelism ([[Tables.spread]]) —
    * ONLY for the pipelines whose per-row work above the scan is heavy
    * enough to pay for the exchange (measured per query, r15: the
    * shingle-explode/minhash feeds, the bigram LM, substring dedup, and
    * the composed e4 curation). The light per-row queries (md5, token
    * counts, regex passes) measured FASTER on the plain single-split
    * read than behind an exchange, so they keep [[sdocs]]. No-op at
    * scale either way (>= cores splits). */
  private def sdocsSpread(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))

  private def sqlList(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("(", ", ", ")")

  // ------------------------------------------------------------------ language id
  private val tLangId: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
    TextPipeline.langId(d, "text")
      .select("doc_id", "lang", "score_en", "score_es", "score_de", "score_fr", "predicted_lang")
      .orderBy("doc_id")
  }

  private val tLangIdSql = {
    val m = TextPipeline.langMarkers
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(m("en"))})) AS BIGINT) AS score_en,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(m("es"))})) AS BIGINT) AS score_es,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(m("de"))})) AS BIGINT) AS score_de,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(m("fr"))})) AS BIGINT) AS score_fr
       |  FROM documents)
       |SELECT doc_id, lang, score_en, score_es, score_de, score_fr,
       |  CASE WHEN score_en + score_es + score_de + score_fr = 0 THEN 'und'
       |       WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
       |       WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
       |       WHEN score_de >= score_fr THEN 'de'
       |       ELSE 'fr' END AS predicted_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------ quality scoring
  private val tQuality: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
    TextPipeline.qualityMetrics(d, "text")
      .select("doc_id", "n_chars", "n_tokens", "avg_token_len",
        "punct_ratio", "stopword_ratio", "quality_bucket")
      .orderBy("doc_id")
  }

  private val tQualitySql =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct,
       |    len(list_filter(string_split(text, ' '),
       |        x -> x IN ${sqlList(TextPipeline.stopwords)})) AS stop_cnt
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_chars, n_tokens,
       |    round(CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens, 4) AS avg_token_len,
       |    round(CAST(punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
       |    round(CAST(stop_cnt AS DOUBLE) / n_tokens, 4) AS stopword_ratio
       |  FROM m)
       |SELECT *,
       |  CASE WHEN n_tokens < 20 THEN 'too_short'
       |       WHEN stopword_ratio > 0.4 THEN 'boilerplate'
       |       WHEN punct_ratio > 0.1 THEN 'punct_heavy'
       |       ELSE 'ok' END AS quality_bucket
       |FROM r ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ token counting
  private val tokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  private val tTokens: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
    d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit(tokenPattern)).cast("long").as("bpe_ish_tokens"),
        ceil(length(col("text")) / 4.0).cast("long").as("est_chars_div4"))
      .orderBy("doc_id")
  }

  private val tTokensSql =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$tokenPattern')) AS BIGINT) AS bpe_ish_tokens,
       |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_chars_div4
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ fingerprint
  private val tFingerprint: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
    TextPipeline.fingerprint(d, "doc_id", "text").orderBy("doc_id")
  }

  private val tFingerprintSql =
    """SELECT doc_id,
      |  CAST(sum(ascii(substring(text, CAST(i.i AS INTEGER), 1))
      |      * ((i.i * 2654435761) % 1000003)) % 1000000007 AS BIGINT) AS fingerprint
      |FROM documents, generate_series(1, 4096) i(i)
      |WHERE i.i <= length(text)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Same fingerprint, same oracle, through the one-pass scalar expression
    * (zero shuffle) instead of the char-explode composition. */
  private val tFingerprintNative: Q = (spark, dir) => {
    graft.plans.GraftFunctions.register(spark)
    sdocs(spark, dir)
      .select(col("doc_id"), expr("fingerprint64(text)").as("fingerprint"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------ text normalization
  /** Canonical text normalization: lowercase, strip punctuation, squish
    * whitespace — the preprocessing step the dedup family assumes. */
  private val tNormalize: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
    d.select(col("doc_id"),
        regexp_replace(
          regexp_replace(lower(col("text")), "[.!?,;:]", ""),
          " +", " ").as("norm_text"))
      .withColumn("norm_len", length(col("norm_text")).cast("long"))
      .orderBy("doc_id")
  }

  private val tNormalizeSql =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(lower(text), '[.!?,;:]', '', 'g'), ' +', ' ', 'g')
      |    AS norm_text,
      |  CAST(length(regexp_replace(regexp_replace(lower(text), '[.!?,;:]', '', 'g'), ' +', ' ', 'g')) AS BIGINT)
      |    AS norm_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ approx percentile
  /** Approximate percentile exposure: exact medians from the oracle plus a
    * 1% accuracy invariant on the sketch value. */
  private val a13Percentile: Q = (spark, dir) => {
    val o = graft.io.Tables.orders(spark, dir)
    o.groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("exact_median"),
        expr("percentile_approx(o_totalprice, 0.5, 10000)").as("approx"))
      .select(col("o_orderstatus"), col("exact_median"),
        (abs(col("approx") - col("exact_median")) <=
          col("exact_median") * 0.01).as("approx_within_1pct"))
      .orderBy("o_orderstatus")
  }

  private val a13PercentileSql =
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS exact_median,
      |  true AS approx_within_1pct
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------ exact dedup
  private val d1ExactDedup: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
    d.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")
  }

  private val d1ExactDedupSql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------ minhash signatures
  /** Corpus + synthetic near-duplicates (one appended token) so LSH always
    * has true positives to find. */
  private def nearDupFeed(spark: SparkSession, dir: String): DataFrame = {
    val d = sdocs(spark, dir).select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))
  }

  private[queries] val nearDupFeedSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 10000 AS doc_id, text || ' extra' AS text
      |FROM documents WHERE doc_id < 20""".stripMargin

  // ORACLE SERIES-BOUND INVARIANT (here and in tRepetitionSql's 2048): the
  // DuckDB n-gram CTEs enumerate positions from a STATIC series (DuckDB's
  // generate_series cannot take lateral args), so documents longer than the
  // bound would make the ORACLE undercount — the Spark side enumerates all
  // tokens. The driver corpus maxes out at 100 tokens/doc (measured at
  // sf0.001/0.01/0.1), 10x headroom. Failure direction is safe: an
  // overlong doc breaks oracle/engine AGREEMENT, so verification fails
  // loudly instead of passing on a truncated oracle.
  private val shinglesSql =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS w FROM feed),
       |shingles AS (
       |  SELECT doc_id, concat(w[CAST(i.i AS INTEGER)], ' ', w[CAST(i.i AS INTEGER) + 1],
       |                        ' ', w[CAST(i.i AS INTEGER) + 2]) AS shingle
       |  FROM words, generate_series(1, 1024) i(i)
       |  WHERE i.i + 2 <= len(w))""".stripMargin

  private val sigSql =
    (0 until 8).map(s => s"min(md5('$s:' || shingle)) AS h$s").mkString(",\n    ")

  private def shingledFeed(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, nearDupFeed(spark, dir))
      .withColumn("toks", TextPipeline.tokens(col("text")))
      .select(col("doc_id"),
        explode(TextPipeline.shinglesFromTokens(col("toks"), 3)).as("shingle"))

  private val d2MinhashSig: Q = (spark, dir) =>
    TextPipeline.minhashSignature(shingledFeed(spark, dir), "doc_id", "shingle", 8)
      .orderBy("doc_id")

  /** The scalar one-pass signature ([[graft.plans.MinHashSig8Expr]]) as a
    * (doc_id, h0..h7) frame — zero shuffle; what the composed dedup
    * pipelines (e4/d6/d7) consume. Docs under 3 tokens have no shingles
    * and produce a NULL signature, filtered exactly like the composed
    * form's absent groupBy rows. */
  private def scalarSig(spark: SparkSession, df: DataFrame, textCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    df.select(col("doc_id"), expr(s"minhash_sig8($textCol)").as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id") +: (0 until 8).map(k => col(s"s.h$k").as(s"h$k")): _*)
  }

  /** d2e: same signatures, same oracle, through the scalar expression. */
  private val d2eMinhashScalar: Q = (spark, dir) =>
    scalarSig(spark, nearDupFeed(spark, dir), "text").orderBy("doc_id")

  private val d2MinhashSigSql =
    s"""WITH feed AS ($nearDupFeedSql),
       |$shinglesSql
       |SELECT doc_id,
       |    $sigSql
       |FROM shingles GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Same signature through the native one-pass TypedImperativeAggregate
    * (one buffer, map-side partial agg) — must hash-match the 8-min
    * expression form and its oracle exactly. */
  private val d2bMinhashAgg: Q = (spark, dir) => {
    graft.plans.MinHashSignature.register(spark)
    shingledFeed(spark, dir)
      .groupBy("doc_id")
      .agg(expr("minhash8(shingle)").as("sig"))
      .select(col("doc_id") +: (0 until 8).map(i => col(s"sig.h$i").as(s"h$i")): _*)
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------ LSH candidate pairs
  private val d2LshPairs: Q = (spark, dir) => {
    // the signature feeds the band join AND both sides of the agreement
    // join — checkpoint it so the shingle->md5-min pipeline runs once and
    // the three consumers plan over a flat leaf instead of re-analyzing
    // the whole subtree (r16 A/B: ckpt 1.59 vs cache 1.84 s min-of-3).
    // Fault tolerance: localCheckpoint keeps the blocks on the executors
    // that computed them and drops the lineage, so losing one of those
    // executors fails the query instead of recomputing the signatures —
    // the trade [[graft.operators.Allocation.allocateRounds]] documents.
    // The cluster-scale form materializes the signatures as a table
    // (parquet write + re-read, its stateDir route).
    val sig = TextPipeline.minhashSignature(
      shingledFeed(spark, dir), "doc_id", "shingle", 8).localCheckpoint()
    // explicitly UNCAPPED: this is the baseline variant whose oracle
    // generates every bucket's pairs; the capped production form is gated
    // separately as d2c_lsh_capped/d2d_lsh_dropped
    val pairs = TextPipeline.lshCandidatePairs(sig, "doc_id", 8, 2, maxBucket = Int.MaxValue)
    val sigA = (0 until 8).foldLeft(sig) { (d, i) => d.withColumnRenamed(s"h$i", s"h${i}_a") }
      .withColumnRenamed("doc_id", "id_a")
    val sigB = (0 until 8).foldLeft(sig) { (d, i) => d.withColumnRenamed(s"h$i", s"h${i}_b") }
      .withColumnRenamed("doc_id", "id_b")
    pairs.join(sigA, "id_a").join(sigB, "id_b")
      .select(col("id_a"), col("id_b"),
        TextPipeline.signatureAgreement(8).as("est_jaccard"))
      .orderBy("id_a", "id_b")
  }

  private val d2LshPairsSql = {
    val agree = (0 until 8)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH feed AS ($nearDupFeedSql),
       |$shinglesSql,
       |sig AS (
       |  SELECT doc_id,
       |    $sigSql
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, h0 || '|' || h1 || '|' || h2 || '|' || h3 AS band_val FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h4 || '|' || h5 || '|' || h6 || '|' || h7 AS band_val FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
       |SELECT p.id_a, p.id_b,
       |  round(CAST($agree AS DOUBLE) / 8, 4) AS est_jaccard
       |FROM pairs p
       |JOIN sig a ON p.id_a = a.doc_id
       |JOIN sig b ON p.id_b = b.doc_id
       |ORDER BY p.id_a, p.id_b""".stripMargin
  }

  // ------------------------------------------------------------------ capped LSH (skew guard in the gate)
  /** The near-dup feed plus a block of verbatim-identical boilerplate docs
    * — the corpus shape that makes uncapped LSH quadratic on one band key.
    * The capped pipeline must keep the true near-dup pairs and refuse the
    * boilerplate bucket, with the refusal visible in the audit query. */
  private def boilerFeed(spark: SparkSession, dir: String): DataFrame =
    nearDupFeed(spark, dir).unionByName(
      sdocs(spark, dir).filter(col("doc_id") < 8)
        .select((col("doc_id") + 20000).as("doc_id"),
          lit("quarterly compliance boilerplate header repeated verbatim across the corpus")
            .as("text")))

  private val boilerFeedSql =
    s"""$nearDupFeedSql
       |UNION ALL
       |SELECT doc_id + 20000 AS doc_id,
       |  'quarterly compliance boilerplate header repeated verbatim across the corpus' AS text
       |FROM documents WHERE doc_id < 8""".stripMargin

  private def boilerSig(spark: SparkSession, dir: String): DataFrame =
    TextPipeline.minhashSignature(
      Tables.spread(spark, boilerFeed(spark, dir))
        .withColumn("toks", TextPipeline.tokens(col("text")))
        .select(col("doc_id"),
          explode(TextPipeline.shinglesFromTokens(col("toks"), 3)).as("shingle")),
      "doc_id", "shingle", 8)

  private val bandedCappedSql =
    s"""WITH feed AS ($boilerFeedSql),
       |$shinglesSql,
       |sig AS (
       |  SELECT doc_id,
       |    $sigSql
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, h0 || '|' || h1 || '|' || h2 || '|' || h3 AS band_val FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h4 || '|' || h5 || '|' || h6 || '|' || h7 AS band_val FROM sig),
       |sized AS (
       |  SELECT band, band_val, count(*) AS bucket_n FROM banded GROUP BY 1, 2)""".stripMargin

  private val d2cLshCapped: Q = (spark, dir) =>
    TextPipeline.lshCandidatePairs(boilerSig(spark, dir), "doc_id", 8, 2, maxBucket = 5)
      .orderBy("id_a", "id_b")

  private val d2cLshCappedSql =
    s"""$bandedCappedSql,
       |keep AS (
       |  SELECT b.doc_id, b.band, b.band_val
       |  FROM banded b JOIN sized s ON b.band = s.band AND b.band_val = s.band_val
       |  WHERE s.bucket_n <= 5)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM keep a JOIN keep b
       |  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  private val d2dLshDropped: Q = (spark, dir) =>
    TextPipeline.lshDroppedBuckets(boilerSig(spark, dir), "doc_id", 8, 2, maxBucket = 5)
      .orderBy("band", "band_val")

  private val d2dLshDroppedSql =
    s"""$bandedCappedSql
       |SELECT band, band_val, bucket_n FROM sized WHERE bucket_n > 5
       |ORDER BY band, band_val""".stripMargin

  // ------------------------------------------------------------------ near-dup clusters + canonical docs
  /** d6: collapse LSH candidate pairs into duplicate clusters — connected
    * components over the candidate graph ([[graft.operators.GraphCC]]),
    * cluster id = smallest member doc_id. Every corpus-scale dedup pipeline
    * ends with this step: pairs alone can't answer "which documents are the
    * same", only components can (A∼B, B∼C ⟹ {A,B,C} one cluster even if
    * A,C never shared a band). */
  private def neardupComp(spark: SparkSession, dir: String): DataFrame = {
    // scalar one-pass signatures (zero shuffle) — hash-identical to the
    // composed shingle-explode form the oracle replays
    val sig = scalarSig(spark, nearDupFeed(spark, dir), "text")
    // production bucket cap LIVE (the oracle replays it via its sized/keep
    // CTE); only d2_lsh_pairs keeps the uncapped form, as a gated baseline
    val pairs = TextPipeline.lshCandidatePairs(sig, "doc_id", 8, 2,
        maxBucket = TextPipeline.DefaultMaxBucket)
      .withColumn("key", lit(""))
    val verts = nearDupFeed(spark, dir)
      .select(lit("").as("key"), col("doc_id").as("id"))
    graft.operators.GraphCC.connectedComponents(verts, pairs)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
  }

  private val d6NeardupComponents: Q = (spark, dir) =>
    neardupComp(spark, dir)
      .withColumn("cluster_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .orderBy("doc_id")

  /** Shared oracle core: recursive-CTE reachability over the same LSH pairs
    * (an independent implementation of the component semantics). */
  private val neardupCompSql =
    s"""feed AS ($nearDupFeedSql),
       |$shinglesSql,
       |sig AS (
       |  SELECT doc_id,
       |    $sigSql
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, h0 || '|' || h1 || '|' || h2 || '|' || h3 AS band_val FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h4 || '|' || h5 || '|' || h6 || '|' || h7 AS band_val FROM sig),
       |lsized AS (SELECT band, band_val, count(*) AS bucket_n FROM banded GROUP BY 1, 2),
       |lkeep AS (
       |  SELECT bd.doc_id, bd.band, bd.band_val
       |  FROM banded bd JOIN lsized s ON bd.band = s.band AND bd.band_val = s.band_val
       |  WHERE s.bucket_n <= ${TextPipeline.DefaultMaxBucket}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM lkeep a JOIN lkeep b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
       |cedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |  UNION ALL SELECT doc_id, doc_id FROM feed),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM cedges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN cedges e ON r.dst = e.src),
       |comp AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY 1)""".stripMargin

  private val d6NeardupComponentsSql =
    s"""WITH RECURSIVE $neardupCompSql
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_n
       |FROM comp ORDER BY doc_id""".stripMargin

  /** d7: canonical document per near-dup cluster — keep the longest text
    * (ties: smallest doc_id), the standard "which copy survives dedup"
    * rule. One row per cluster with the kept doc and the member count. */
  private val d7CanonicalDocs: Q = (spark, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(length(col("text")).desc, col("doc_id"))
    neardupComp(spark, dir)
      .join(nearDupFeed(spark, dir), "doc_id")
      .withColumn("n_docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
        length(col("text")).cast("long").as("keep_len"), col("n_docs"))
      .orderBy("cluster_id")
  }

  private val d7CanonicalDocsSql =
    s"""WITH RECURSIVE $neardupCompSql,
       |ranked AS (
       |  SELECT c.cluster_id, c.doc_id, len(f.text) AS keep_len,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |                       ORDER BY len(f.text) DESC, c.doc_id) AS rk,
       |    count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
       |  FROM comp c JOIN feed f ON c.doc_id = f.doc_id)
       |SELECT cluster_id, doc_id AS keep_doc_id,
       |  CAST(keep_len AS BIGINT) AS keep_len, n_docs
       |FROM ranked WHERE rk = 1 ORDER BY cluster_id""".stripMargin

  // ------------------------------------------------------------------ simhash
  /** 64-bit SimHash ([[TextPipeline.simhash64]]) as four 16-bit band
    * columns sim0..sim3 plus the assembled hex fingerprint. The band ints
    * double as the LSH keys in d9, with 65,536 possible values per band. */
  private val d3Simhash: Q = (spark, dir) =>
    TextPipeline.simhash64(sdocs(spark, dir), "doc_id", "text")
      .withColumn("simhash_hex",
        format_string("%04x%04x%04x%04x",
          col("sim0"), col("sim1"), col("sim2"), col("sim3")))
      .orderBy("doc_id")

  /** DuckDB twin of [[TextPipeline.simhash64]] as CTE chunks ending in
    * `sim(doc_id, sim0..sim3)`, parameterized over the source relation. */
  private[queries] def simhashSqlOver(src: String) = {
    val simCols = (0 until 4).map(k =>
      s"CAST(sum(CASE WHEN p // 4 = $k THEN nib << ((p % 4) * 4) ELSE 0 END) AS INTEGER) AS sim$k")
      .mkString(",\n    ")
    s"""toks AS (
       |  SELECT DISTINCT doc_id, t.tok FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $src) t),
       |digs AS (
       |  SELECT doc_id, CAST(g.p AS INTEGER) AS p,
       |    strpos('0123456789abcdef',
       |      substring(md5(tok), CAST(g.p AS INTEGER) + 1, 1)) - 1 AS v
       |  FROM toks, generate_series(0, 15) g(p)),
       |votes AS (
       |  SELECT doc_id, p,
       |    sum((v % 2) * 2 - 1) AS s0,
       |    sum(((v // 2) % 2) * 2 - 1) AS s1,
       |    sum(((v // 4) % 2) * 2 - 1) AS s2,
       |    sum(((v // 8) % 2) * 2 - 1) AS s3
       |  FROM digs GROUP BY 1, 2),
       |nibs AS (
       |  SELECT doc_id, p,
       |    (CASE WHEN s0 > 0 THEN 1 ELSE 0 END) + 2 * (CASE WHEN s1 > 0 THEN 1 ELSE 0 END)
       |      + 4 * (CASE WHEN s2 > 0 THEN 1 ELSE 0 END) + 8 * (CASE WHEN s3 > 0 THEN 1 ELSE 0 END) AS nib
       |  FROM votes),
       |sim AS (
       |  SELECT doc_id,
       |    $simCols
       |  FROM nibs GROUP BY doc_id)""".stripMargin
  }

  private val d3SimhashSql =
    s"""WITH ${simhashSqlOver("documents")}
       |SELECT doc_id, sim0, sim1, sim2, sim3,
       |  printf('%04x%04x%04x%04x', sim0, sim1, sim2, sim3) AS simhash_hex
       |FROM sim ORDER BY doc_id""".stripMargin

  /** The native scalar fingerprint ([[graft.plans.SimHash64Expr]]) as a
    * (doc_id, sim0..sim3) frame — zero shuffle, the production path the
    * band join consumes. Must stay bit-identical to the composed form. */
  private def nativeSim(spark: SparkSession, df: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    df.select(col("doc_id"), expr("simhash64(text)").as("s"))
      .select(col("doc_id"), col("s.sim0").as("sim0"), col("s.sim1").as("sim1"),
        col("s.sim2").as("sim2"), col("s.sim3").as("sim3"))
  }

  /** d3b: same fingerprint, same oracle, through the one-pass scalar
    * expression instead of the explode+aggregate composition. */
  private val d3bSimhashNative: Q = (spark, dir) =>
    nativeSim(spark, sdocs(spark, dir))
      .withColumn("simhash_hex",
        format_string("%04x%04x%04x%04x",
          col("sim0"), col("sim1"), col("sim2"), col("sim3")))
      .orderBy("doc_id")

  // ------------------------------------------------------------------ simhash hamming-band near-dup pairs
  /** Completes the SimHash dedup path ([[TextPipeline.simhashPairs]]):
    * equi-join per 16-bit band (pigeonhole: hamming ≤ 3 over 64 bits means
    * at least one identical band), then exact bit_count hamming. Same
    * band-join-then-verify shape as MinHash LSH — one shuffle on the band
    * key — and the same bucket cap, live at its production default here
    * (oracle replays the cap via the sized/keep CTE). */
  private val d9SimhashPairs: Q = (spark, dir) =>
    TextPipeline.simhashPairs(
      nativeSim(spark, nearDupFeed(spark, dir)),
      "doc_id", maxHamming = 3, maxBucket = TextPipeline.DefaultMaxBucket)
      .orderBy("id_a", "id_b")

  /** `banded/bsized/bkeep` CTE chunk shared by the d9 pair query and the
    * d9b audit, with the bucket cap applied exactly as the engine does. */
  private[queries] def simhashBandedSql(maxBucket: Int) =
    s"""banded AS (
       |  SELECT doc_id, sim0, sim1, sim2, sim3, CAST(g.b AS INTEGER) AS b,
       |    CASE WHEN g.b = 0 THEN sim0 WHEN g.b = 1 THEN sim1
       |         WHEN g.b = 2 THEN sim2 ELSE sim3 END AS band_val
       |  FROM sim, generate_series(0, 3) g(b)),
       |bsized AS (SELECT b, band_val, count(*) AS bucket_n FROM banded GROUP BY 1, 2),
       |bkeep AS (
       |  SELECT bd.* FROM banded bd
       |  JOIN bsized s ON bd.b = s.b AND bd.band_val = s.band_val
       |  WHERE s.bucket_n <= $maxBucket)""".stripMargin

  private val d9SimhashPairsSql =
    s"""WITH feed AS ($nearDupFeedSql),
       |${simhashSqlOver("feed")},
       |${simhashBandedSql(TextPipeline.DefaultMaxBucket)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sim0 AS a0, a.sim1 AS a1, a.sim2 AS a2, a.sim3 AS a3,
       |    b.sim0 AS b0, b.sim1 AS b1, b.sim2 AS b2, b.sim3 AS b3
       |  FROM bkeep a JOIN bkeep b
       |    ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT id_a, id_b,
       |    CAST(bit_count(CAST(xor(a0, b0) AS BIGINT)) + bit_count(CAST(xor(a1, b1) AS BIGINT))
       |      + bit_count(CAST(xor(a2, b2) AS BIGINT)) + bit_count(CAST(xor(a3, b3) AS BIGINT)) AS INTEGER) AS hamming
       |  FROM cand)
       |SELECT id_a, id_b, hamming FROM scored WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** d9b: the dropped-bucket audit over a boilerplate-heavy corpus — the
    * block of verbatim-identical docs lands every copy in the same band
    * buckets, which the cap refuses; this query surfaces exactly what was
    * refused and how big it was (the SimHash twin of d2d). */
  private val d9bSimhashDropped: Q = (spark, dir) =>
    TextPipeline.simhashDroppedBuckets(
      nativeSim(spark, boilerFeed(spark, dir)),
      "doc_id", maxBucket = 5)
      .orderBy("b", "band_val")

  private val d9bSimhashDroppedSql =
    s"""WITH feed AS ($boilerFeedSql),
       |${simhashSqlOver("feed")},
       |banded AS (
       |  SELECT doc_id, CAST(g.b AS INTEGER) AS b,
       |    CASE WHEN g.b = 0 THEN sim0 WHEN g.b = 1 THEN sim1
       |         WHEN g.b = 2 THEN sim2 ELSE sim3 END AS band_val
       |  FROM sim, generate_series(0, 3) g(b))
       |SELECT b, band_val, count(*) AS bucket_n FROM banded GROUP BY 1, 2
       |HAVING count(*) > 5
       |ORDER BY b, band_val""".stripMargin

  // ------------------------------------------------------------------ deterministic global shuffle (training order)
  /** Training-data epoch ordering: a seeded hash of the document key gives
    * every row a pseudo-random but fully deterministic position, computed
    * with the distributed GlobalRank (range shuffle + broadcast offsets) —
    * no single-partition window, so the order materializes in parallel at
    * any corpus size and is reproducible across runs and cluster layouts. */
  private val d8GlobalShuffle: Q = (spark, dir) => {
    val keyed = sdocs(spark, dir).select(col("doc_id"),
      md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("shuffle_key"))
    graft.operators.GlobalRank
      .withGlobalRowNumber(keyed, Seq(col("shuffle_key"), col("doc_id")), "position")
      .select("position", "doc_id", "shuffle_key")
      .orderBy("position")
  }

  private val d8GlobalShuffleSql =
    """WITH keyed AS (
      |  SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      |  FROM documents)
      |SELECT row_number() OVER (ORDER BY shuffle_key, doc_id) AS position,
      |  doc_id, shuffle_key
      |FROM keyed ORDER BY position""".stripMargin

  // ------------------------------------------------------------------ curriculum schedule
  /** w10: training-curriculum ordering — documents staged easy-to-hard by
    * length tier, deterministically shuffled WITHIN each stage (seeded
    * md5, the d8 shuffle applied per tier), with an inclusive running
    * character budget over the whole schedule. The cumulative budget is
    * [[graft.operators.GlobalRank.withRunningTotal]] — a range shuffle +
    * broadcast partition offsets, never a single-partition window — so
    * the curriculum scales to any corpus. A trainer consumes this as
    * "stream in cum_chars order; stage boundaries are where stage
    * increments". */
  private val w10Curriculum: Q = (spark, dir) => {
    val staged = sdocs(spark, dir).select(
      col("doc_id"), col("n_chars"),
      when(col("n_chars") < 200, 0).when(col("n_chars") < 400, 1).otherwise(2).as("stage"),
      md5(concat(lit("cur:"), col("doc_id").cast("string"))).as("shuffle_key"))
    graft.operators.GlobalRank.withRunningTotal(staged,
        Seq(col("stage"), col("shuffle_key"), col("doc_id")),
        col("n_chars"), "cum_chars")
      .select("doc_id", "stage", "cum_chars")
      .orderBy("doc_id")
  }

  private val w10CurriculumSql =
    """WITH staged AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1 ELSE 2 END AS stage,
      |    md5('cur:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      |  FROM documents)
      |SELECT doc_id, stage,
      |  CAST(sum(n_chars) OVER (ORDER BY stage, shuffle_key, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
      |FROM staged ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ n-gram jaccard
  private val d4Jaccard: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
    val sh = d.withColumn("toks", TextPipeline.tokens(col("text")))
      .select(col("doc_id"),
        array_distinct(TextPipeline.shinglesFromTokens(col("toks"), 3)).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
      .orderBy("doc_a")
  }

  private val d4JaccardSql =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    concat(w[CAST(i.i AS INTEGER)], ' ', w[CAST(i.i AS INTEGER) + 1],
      |           ' ', w[CAST(i.i AS INTEGER) + 2]) AS shingle
      |  FROM words, generate_series(1, 1024) i(i)
      |  WHERE i.i + 2 <= len(w)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
      |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.shingle = b.shingle
      |  GROUP BY 1, 2)
      |SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
      |  round(CAST(coalesce(i.ni, 0) AS DOUBLE)
      |        / (sa.n + sb.n - coalesce(i.ni, 0)), 4) AS jaccard
      |FROM sizes sa JOIN sizes sb ON sb.doc_id = sa.doc_id + 1
      |LEFT JOIN inter i ON i.doc_a = sa.doc_id
      |ORDER BY doc_a""".stripMargin

  // ------------------------------------------------------------------ repetition stats (Gopher-style quality signal)
  /** Repetition metrics per document: share of the most frequent 2-gram and
    * share of 3-grams occurring more than once — the "repetitious text"
    * filters corpus curation applies before training. All ratios are raw
    * quotients of identical integer divisions, so they compare exactly
    * across engines without rounding. */
  private val tRepetition: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
    val toks = d.withColumn("toks", TextPipeline.tokens(col("text")))
    def gramCounts(k: Int) = toks
      .select(col("doc_id"),
        explode(TextPipeline.shinglesFromTokens(col("toks"), k)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
    val s2 = gramCounts(2).groupBy("doc_id")
      .agg(sum("n").as("n_2grams"), max("n").as("top_2gram_n"))
    val s3 = gramCounts(3).groupBy("doc_id")
      .agg(sum("n").as("n_3grams"),
        sum(when(col("n") > 1, col("n")).otherwise(0)).as("dup_3gram_n"))
    s2.join(s3, "doc_id")
      .select(col("doc_id"), col("n_2grams"), col("top_2gram_n"),
        (col("top_2gram_n").cast("double") / col("n_2grams")).as("top_2gram_frac"),
        (col("dup_3gram_n").cast("double") / col("n_3grams")).as("dup_3gram_frac"))
      .withColumn("repetitive",
        col("top_2gram_frac") > 0.05 || col("dup_3gram_frac") > 0.3)
      .orderBy("doc_id")
  }

  // series bound 2048: see the invariant note at shinglesSql (corpus max
  // is 100 tokens/doc; overflow fails loudly as an oracle mismatch)
  private val tRepetitionSql =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g2 AS (
      |  SELECT doc_id, concat(w[CAST(i.i AS INTEGER)], ' ', w[CAST(i.i AS INTEGER) + 1]) AS g
      |  FROM words, generate_series(1, 2048) i(i) WHERE i.i + 1 <= len(w)),
      |c2 AS (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2),
      |s2 AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_2grams,
      |         CAST(max(n) AS BIGINT) AS top_2gram_n FROM c2 GROUP BY 1),
      |g3 AS (
      |  SELECT doc_id, concat(w[CAST(i.i AS INTEGER)], ' ', w[CAST(i.i AS INTEGER) + 1],
      |                        ' ', w[CAST(i.i AS INTEGER) + 2]) AS g
      |  FROM words, generate_series(1, 2048) i(i) WHERE i.i + 2 <= len(w)),
      |c3 AS (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2),
      |s3 AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_3grams,
      |         CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_3gram_n
      |       FROM c3 GROUP BY 1)
      |SELECT s2.doc_id, n_2grams, top_2gram_n,
      |  CAST(top_2gram_n AS DOUBLE) / n_2grams AS top_2gram_frac,
      |  CAST(dup_3gram_n AS DOUBLE) / n_3grams AS dup_3gram_frac,
      |  (CAST(top_2gram_n AS DOUBLE) / n_2grams > 0.05
      |    OR CAST(dup_3gram_n AS DOUBLE) / n_3grams > 0.3) AS repetitive
      |FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id ORDER BY s2.doc_id""".stripMargin

  // ------------------------------------------------------------------ cross-document boilerplate n-grams
  /** Corpus-LEVEL boilerplate signal (the Gopher/RefinedWeb-style filter
    * the per-document stats can't see): a 3-gram appearing in many
    * documents is boilerplate; each document is scored by the fraction of
    * its distinct 3-grams that are corpus-frequent. Scale shape: document
    * frequency is one groupBy on the shingle; the fact table then joins
    * ONLY against the df≥K survivors — tiny by definition (151 of 16k
    * shingles on this corpus), so that's a broadcast semi-join, never a
    * shuffle of the full dfreq table. Per-doc totals are a keyed agg. At
    * 100 TB the shingle strings would be xxhash64'd to 8-byte keys first;
    * the string key here keeps the oracle engine-portable. */
  private val tBoilerplate: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
    val sh = d.withColumn("toks", TextPipeline.tokens(col("text")))
      .select(col("doc_id"),
        explode(array_distinct(TextPipeline.shinglesFromTokens(col("toks"), 3))).as("g"))
      .cache()                       // feeds dfreq, the base counts, and the semi-join
    val boiler = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 5).select("g")
    val base = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val nb = sh.join(broadcast(boiler), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    base.join(nb, Seq("doc_id"), "left")
      .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
      .withColumn("boiler_frac", col("n_boiler").cast("double") / col("n_shingles"))
      .withColumn("boilerplate_heavy", col("boiler_frac") > 0.2)
      .orderBy("doc_id")
  }

  private val tBoilerplateSql =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    concat(w[CAST(i.i AS INTEGER)], ' ', w[CAST(i.i AS INTEGER) + 1],
      |           ' ', w[CAST(i.i AS INTEGER) + 2]) AS g
      |  FROM words, generate_series(1, 1024) i(i)
      |  WHERE i.i + 2 <= len(w)),
      |dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY 1),
      |per AS (
      |  SELECT s.doc_id, count(*) AS n_shingles,
      |    CAST(sum(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      |  FROM sh s JOIN dfreq f ON s.g = f.g GROUP BY 1)
      |SELECT doc_id, n_shingles, n_boiler,
      |  CAST(n_boiler AS DOUBLE) / n_shingles AS boiler_frac,
      |  CAST(n_boiler AS DOUBLE) / n_shingles > 0.2 AS boilerplate_heavy
      |FROM per ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ d10: benchmark decontamination
  /** Eval-set decontamination: flag training documents sharing any word
    * 8-gram with a held-out benchmark set — the contamination check every
    * training corpus needs before an eval claim means anything (the n-gram
    * overlap rule GPT-3/PaLM-style data cards document). Eval set = docs
    * with `doc_id % 25 = 0`; the feed plants guaranteed positives by
    * appending verbatim leaks of each eval doc (id+30000, prefixed). Scale
    * shape: the eval n-gram set is tiny by definition (benchmarks are
    * thousands of docs, the corpus is billions) → distinct once, BROADCAST
    * to a map-side left join; per-doc overlap is then a keyed agg. No
    * corpus-wide shuffle beyond the per-doc groupBy; at 100 TB the 8-gram
    * strings would be xxhash64'd to 8-byte keys first. */
  private def decontamFeed(spark: SparkSession, dir: String): DataFrame = {
    val d = sdocs(spark, dir).select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(lit("leaked excerpt "), col("text")).as("text")))
  }

  private val decontamFeedSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 30000 AS doc_id, 'leaked excerpt ' || text AS text
      |FROM documents WHERE doc_id % 25 = 0""".stripMargin

  private val d10Decontaminate: Q = (spark, dir) => {
    val g8 = decontamFeed(spark, dir)
      .withColumn("toks", TextPipeline.tokens(col("text")))
      .select(col("doc_id"),
        explode(array_distinct(TextPipeline.shinglesFromTokens(col("toks"), 8))).as("g"))
    val isEval = col("doc_id") % 25 === 0 && col("doc_id") < 30000
    val evalGrams = g8.filter(isEval).select("g").distinct()
    g8.filter(!isEval)
      .join(broadcast(evalGrams.withColumn("hit", lit(1))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
      .orderBy("doc_id")
  }

  private val d10DecontaminateSql = {
    val gram8 = (0 until 8).map(o => s"w[CAST(i.i AS INTEGER) + $o]")
      .mkString("concat(", ", ' ', ", ")")
    s"""WITH feed AS ($decontamFeedSql),
       |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM feed),
       |g8 AS (
       |  SELECT DISTINCT doc_id, $gram8 AS g
       |  FROM words, generate_series(1, 1024) i(i)
       |  WHERE i.i + 7 <= len(w)),
       |evalg AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 25 = 0 AND doc_id < 30000)
       |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
       |FROM g8 c LEFT JOIN evalg e ON c.g = e.g
       |WHERE NOT (c.doc_id % 25 = 0 AND c.doc_id < 30000)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------ d11: incremental dedup (batch vs index)
  /** Incremental dedup — the GROWING-corpus production shape: docs
    * 0..399 are the already-indexed corpus, docs ≥400 plus planted
    * verbatim copies of indexed docs (id+40000) arrive as a batch, and
    * each incoming doc is flagged against the index WITHOUT re-pairing
    * the corpus with itself ([[TextPipeline.incrementalDupFlags]]: band
    * equi-join, cap on the indexed side, ≥6/8 signature agreement).
    * Signatures come from the scalar one-pass expression on both sides. */
  private def d11Feed(spark: SparkSession, dir: String): DataFrame = {
    val d = sdocs(spark, dir).select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") < 10)
        .select((col("doc_id") + 40000).as("doc_id"), col("text")))
  }

  private val d11FeedSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 40000 AS doc_id, text FROM documents WHERE doc_id < 10""".stripMargin

  private val d11IncrementalDedup: Q = (spark, dir) => {
    val sig = scalarSig(spark, d11Feed(spark, dir), "text")
    val indexed = sig.filter(col("doc_id") < 400)
    val incoming = sig.filter(col("doc_id") >= 400)
    TextPipeline.incrementalDupFlags(indexed, incoming, "doc_id", 8, 2,
      minAgree = 6, maxBucket = TextPipeline.DefaultMaxBucket)
      .orderBy("doc_id")
  }

  private val d11IncrementalDedupSql = {
    val agree = (0 until 8)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH feed AS ($d11FeedSql),
       |$shinglesSql,
       |sig AS (
       |  SELECT doc_id,
       |    $sigSql
       |  FROM shingles GROUP BY doc_id),
       |idxb AS (
       |  SELECT doc_id, 0 AS band, h0 || '|' || h1 || '|' || h2 || '|' || h3 AS band_val
       |  FROM sig WHERE doc_id < 400
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h4 || '|' || h5 || '|' || h6 || '|' || h7 AS band_val
       |  FROM sig WHERE doc_id < 400),
       |isized AS (SELECT band, band_val, count(*) AS bucket_n FROM idxb GROUP BY 1, 2),
       |ikeep AS (
       |  SELECT bd.doc_id, bd.band, bd.band_val
       |  FROM idxb bd JOIN isized s ON bd.band = s.band AND bd.band_val = s.band_val
       |  WHERE s.bucket_n <= ${TextPipeline.DefaultMaxBucket}),
       |incb AS (
       |  SELECT doc_id, 0 AS band, h0 || '|' || h1 || '|' || h2 || '|' || h3 AS band_val
       |  FROM sig WHERE doc_id >= 400
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h4 || '|' || h5 || '|' || h6 || '|' || h7 AS band_val
       |  FROM sig WHERE doc_id >= 400),
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS inc_id, x.doc_id AS idx_id
       |  FROM incb i JOIN ikeep x ON i.band = x.band AND i.band_val = x.band_val),
       |per AS (
       |  SELECT c.inc_id, CAST(count(*) AS BIGINT) AS n_candidates,
       |    max(CAST($agree AS INTEGER)) AS best_agree
       |  FROM cand c
       |  JOIN sig a ON a.doc_id = c.inc_id
       |  JOIN sig b ON b.doc_id = c.idx_id
       |  GROUP BY 1)
       |SELECT s.doc_id, coalesce(p.n_candidates, 0) AS n_candidates,
       |  coalesce(p.best_agree, 0) AS best_agree,
       |  coalesce(p.best_agree, 0) >= 6 AS is_dup
       |FROM sig s LEFT JOIN per p ON p.inc_id = s.doc_id
       |WHERE s.doc_id >= 400
       |ORDER BY s.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------ t_vocab: corpus vocabulary build
  /** Corpus vocabulary: term frequency + document frequency per token,
    * top-100 by frequency — the tokenizer-training / stopword-discovery
    * precursor every text pipeline runs. Scale shape: token explode is
    * narrow, the (token) groupBy is ONE hash shuffle with map-side partial
    * aggregation, and the global top-k order runs through
    * [[graft.operators.GlobalRank]] (range shuffle + broadcast offsets) —
    * no single-partition window no matter how large the vocabulary. */
  private val tVocabTopk: Q = (spark, dir) => {
    val counts = sdocs(spark, dir)
      .select(col("doc_id"), explode(TextPipeline.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    graft.operators.GlobalRank
      .withGlobalRowNumber(counts, Seq(col("tf").desc, col("token")), "rnk")
      .filter(col("rnk") <= 100)
      .select(col("rnk"), col("token"), col("tf"), col("df"))
      .orderBy("rnk")
  }

  private val tVocabTopkSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |c AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS tf,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM tok GROUP BY 1)
      |SELECT rnk, token, tf, df FROM (
      |  SELECT token, tf, df,
      |    CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rnk
      |  FROM c) WHERE rnk <= 100 ORDER BY rnk""".stripMargin

  // ------------------------------------------------------------------ PII scrubbing
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** Deterministic synthetic PII so the scrubber always has work: every 5th
    * doc gains an email, every 7th a phone number. */
  private def piiFeed(spark: SparkSession, dir: String): DataFrame =
    sdocs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" call 555-867-5309"))
          .otherwise(lit(""))).as("text"))

  // NOTE: the `||` concatenations stay mid-line — a leading `||` would be
  // re-stripped when this CTE is interpolated into another stripMargin string
  private val piiFeedSql =
    """SELECT doc_id,
      |  concat(text,
      |    CASE WHEN doc_id % 5 = 0
      |         THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com now')
      |         ELSE '' END,
      |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END) AS text
      |FROM documents""".stripMargin

  /** PII redaction: count + replace emails and phone numbers with typed
    * placeholder tags — the scrub step a pipeline runs before any text
    * leaves curation. Pure regexp expressions, codegen'd, shuffle-free. */
  private val tPiiRedact: Q = (spark, dir) =>
    piiFeed(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("clean_text"))
      .withColumn("clean_len", length(col("clean_text")).cast("long"))
      .orderBy("doc_id")

  private val tPiiRedactSql =
    s"""WITH feed AS ($piiFeedSql)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones,
       |  regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g') AS clean_text,
       |  CAST(length(regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g')) AS BIGINT) AS clean_len
       |FROM feed ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ deterministic train/val/test split
  /** Hash-based split assignment: first hex digit of md5(doc_id) buckets
    * 0..b -> train (12/16), c..d -> val (2/16), e..f -> test (2/16).
    * Deterministic, engine-portable (string hex compare), and stable under
    * re-runs and corpus growth — the properties a training split needs.
    * At 100 TB this is a stateless projection: no shuffle, no join, no
    * sampling state to coordinate across executors. */
  private def splitAssign(spark: SparkSession, dir: String): DataFrame =
    sdocs(spark, dir).select(col("doc_id"),
      substring(md5(col("doc_id").cast("string")), 1, 1).as("bucket"))
      .withColumn("split",
        when(col("bucket") < "c", "train")
          .when(col("bucket") < "e", "val")
          .otherwise("test"))

  private val splitAssignSql =
    """SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
      |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
      |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  private val w6TrainSplit: Q = (spark, dir) =>
    splitAssign(spark, dir).orderBy("doc_id")

  private val w6TrainSplitSql =
    s"""WITH assign AS ($splitAssignSql)
       |SELECT * FROM assign ORDER BY doc_id""".stripMargin

  private val w7SplitCounts: Q = (spark, dir) =>
    splitAssign(spark, dir)
      .groupBy("split").agg(count(lit(1)).as("n"))
      .withColumn("frac", col("n").cast("double") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))).cast("double"))
      .orderBy("split")

  private val w7SplitCountsSql =
    s"""WITH assign AS ($splitAssignSql)
       |SELECT split, CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE) AS frac
       |FROM assign GROUP BY split ORDER BY split""".stripMargin

  // ------------------------------------------------------------------ w8: stratified sample with exact quotas
  /** Stratified sampling with EXACT per-stratum quotas: ceil(10%) of each
    * language, chosen by deterministic md5 order — the eval-subset /
    * data-mixture draw where `sample(fraction)` is wrong (binomial row
    * counts drift per run and per partitioning). Integer quota arithmetic
    * ((n+9) div 10) keeps the cut engine-exact. Scale shape: one keyed
    * window per stratum (languages are few, strata are large) — for a
    * pathologically dominant stratum the same draw runs through
    * [[graft.operators.GlobalRank]] per stratum; the keyed form is the
    * right default. */
  private val w8StratifiedSample: Q = (spark, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("skey", "doc_id")
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    sdocs(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(concat_ws(":", lit("w8"), col("doc_id"))).as("skey"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .withColumn("n_lang", count(lit(1)).over(cw))
      .withColumn("quota", expr("(n_lang + 9) div 10"))
      .filter(col("rn") <= col("quota"))
      .select("doc_id", "lang", "rn", "n_lang", "quota")
      .orderBy("lang", "rn")
  }

  private val w8StratifiedSampleSql =
    """WITH a AS (
      |  SELECT doc_id, lang, md5('w8:' || CAST(doc_id AS VARCHAR)) AS skey
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS INTEGER) AS rn,
      |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
      |  FROM a)
      |SELECT doc_id, lang, rn, n_lang, (n_lang + 9) // 10 AS quota
      |FROM r WHERE rn <= (n_lang + 9) // 10
      |ORDER BY lang, rn""".stripMargin

  // ------------------------------------------------------------------ e5: data-mixture report
  /** The "data card" a training run is configured from: per (source,
    * lang) document counts, token totals, quality-pass rates, and each
    * cell's share of corpus tokens. Composes the quality gate with the
    * mixture aggregation; fractions are single divisions of exact integer
    * counts (engine-exact, no float accumulation). Scale shape: one
    * narrow codegen pass for per-doc metrics, ONE hash shuffle on the
    * (source, lang) key — cells are few by construction, so the final
    * share window over cells is trivially small. */
  private val e5DataMixture: Q = (spark, dir) => {
    val cells = TextPipeline.qualityMetrics(sdocs(spark, dir), "text")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum(when(col("quality_bucket") === "ok", 1L).otherwise(0L)).as("ok_docs"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    cells
      .withColumn("ok_frac", col("ok_docs").cast("double") / col("n_docs"))
      .withColumn("token_share",
        col("total_tokens").cast("double") / sum("total_tokens").over(all))
      .orderBy("source", "lang")
  }

  private val e5DataMixtureSql = {
    val stop = sqlList(TextPipeline.stopwords)
    s"""WITH m AS (
       |  SELECT source, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    length(text) AS n_chars,
       |    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct,
       |    len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS stop_cnt
       |  FROM documents),
       |b AS (
       |  SELECT source, lang, n_tokens,
       |    CASE WHEN n_tokens < 20 THEN 'too_short'
       |         WHEN round(CAST(stop_cnt AS DOUBLE) / n_tokens, 4) > 0.4 THEN 'boilerplate'
       |         WHEN round(CAST(punct AS DOUBLE) / n_chars, 4) > 0.1 THEN 'punct_heavy'
       |         ELSE 'ok' END AS quality_bucket
       |  FROM m),
       |cells AS (
       |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(CASE WHEN quality_bucket = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS ok_docs
       |  FROM b GROUP BY 1, 2)
       |SELECT source, lang, n_docs, total_tokens, ok_docs,
       |  CAST(ok_docs AS DOUBLE) / n_docs AS ok_frac,
       |  CAST(total_tokens AS DOUBLE) / CAST(sum(total_tokens) OVER () AS DOUBLE) AS token_share
       |FROM cells ORDER BY source, lang""".stripMargin
  }

  // ------------------------------------------------------------------ t_quality_model: linear classifier scoring
  /** Model-based quality scoring (the fasttext-style classifier gate modern
    * corpus pipelines run after the heuristic filters): a fixed-weight
    * logistic model over the verified quality features — token count
    * (capped), stopword ratio, punctuation ratio. Weights are literals, so
    * this is the SERVING half (distributed scoring as a stateless codegen
    * projection); training happens offline. Features are the 4-dp rounded
    * ratios from [[TextPipeline.qualityMetrics]] and z is rounded before
    * the sigmoid, so both engines feed exp() the identical double. */
  private val tQualityModel: Q = (spark, dir) => {
    val m = TextPipeline.qualityMetrics(sdocs(spark, dir), "text")
    val z = round(
      lit(-2.0) + lit(0.015) * least(col("n_tokens"), lit(200L)).cast("double")
        + lit(5.0) * col("stopword_ratio") - lit(20.0) * col("punct_ratio"), 4)
    m.withColumn("z", z)
      .withColumn("quality_prob", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4))
      .withColumn("model_keep", col("quality_prob") >= 0.5)
      .select("doc_id", "n_tokens", "stopword_ratio", "punct_ratio",
        "z", "quality_prob", "model_keep")
      .orderBy("doc_id")
  }

  private val tQualityModelSql = {
    val stop = sqlList(TextPipeline.stopwords)
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    round(CAST(len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS DOUBLE)
       |      / len(string_split(text, ' ')), 4) AS stopword_ratio,
       |    round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
       |      / length(text), 4) AS punct_ratio
       |  FROM documents),
       |z AS (
       |  SELECT *, round(-2.0 + 0.015 * CAST(least(n_tokens, 200) AS DOUBLE)
       |    + 5.0 * stopword_ratio - 20.0 * punct_ratio, 4) AS z
       |  FROM f)
       |SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, z,
       |  round(1.0 / (1.0 + exp(-z)), 4) AS quality_prob,
       |  round(1.0 / (1.0 + exp(-z)), 4) >= 0.5 AS model_keep
       |FROM z ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------ t_bpe_pairs: tokenizer-training pair counts
  /** One BPE training iteration's counting step: corpus-wide frequencies of
    * adjacent character pairs inside words, global top-20 — the inner loop
    * of byte-pair-encoding tokenizer training, distributed. Scale shape:
    * the pair explode is narrow, the (pair) groupBy is one hash shuffle
    * with map-side partials over a tiny key space (alphabet^2), and the
    * top-k runs through [[graft.operators.GlobalRank]].
    * ORACLE SERIES-BOUND INVARIANT: the DuckDB twin enumerates character
    * positions via generate_series(1, 63) — valid while fixture words stay
    * under 64 chars (corpus words are short English words; same invariant
    * family as the shingle caps above). */
  private val tBpePairs: Q = (spark, dir) => {
    val pairs = sdocs(spark, dir)
      .select(explode(TextPipeline.tokens(col("text"))).as("w"))
      .select(explode(expr(
        "transform(sequence(1, greatest(length(w) - 1, 0)), i -> substring(w, i, 2))")).as("pair"))
      .filter(length(col("pair")) === 2)
    val counts = pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
    graft.operators.GlobalRank
      .withGlobalRowNumber(counts, Seq(col("cnt").desc, col("pair")), "rnk")
      .filter(col("rnk") <= 20)
      .select("rnk", "pair", "cnt")
      .orderBy("rnk")
  }

  private val tBpePairsSql =
    """WITH words AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |pairs AS (
      |  SELECT substring(w, CAST(i.i AS INTEGER), 2) AS pair
      |  FROM words, generate_series(1, 63) i(i)
      |  WHERE i.i + 1 <= length(w)),
      |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY 1)
      |SELECT rnk, pair, cnt FROM (
      |  SELECT pair, cnt,
      |    CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rnk
      |  FROM c) WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  // ------------------------------------------------------------------ w9: sequence packing (concat-and-chunk)
  /** Concat-and-chunk sequence packing: documents laid end-to-end in a
    * deterministic global order and cut into fixed 256-token training
    * sequences; each document reports the token span it occupies and the
    * first/last sequence it lands in (a doc crossing a cut spans several).
    * The running token offset is the distributed prefix sum
    * ([[graft.operators.GlobalRank.withRunningTotal]] — range shuffle +
    * broadcast partition offsets), NOT a single-partition
    * `sum() OVER (ORDER BY)`. Scale shape: one range shuffle, then narrow
    * integer arithmetic; sequence ids never materialize as rows. */
  private val packBudget = 256L

  private val w9SequencePack: Q = (spark, dir) => {
    val d = sdocs(spark, dir)
      .select(col("doc_id"),
        size(TextPipeline.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.GlobalRank
      .withRunningTotal(d, Seq(col("doc_id")), col("n_tokens"), "cum_tokens")
      .withColumn("start_token", col("cum_tokens") - col("n_tokens"))
      .withColumn("first_seq", expr(s"start_token div $packBudget"))
      .withColumn("last_seq", expr(s"(cum_tokens - 1) div $packBudget"))
      .withColumn("offset_in_seq", col("start_token") % packBudget)
      .select("doc_id", "n_tokens", "start_token", "first_seq", "last_seq", "offset_in_seq")
      .orderBy("doc_id")
  }

  private val w9SequencePackSql =
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
       |  FROM tok)
       |SELECT doc_id, n_tokens, cum_tokens - n_tokens AS start_token,
       |  (cum_tokens - n_tokens) // $packBudget AS first_seq,
       |  (cum_tokens - 1) // $packBudget AS last_seq,
       |  (cum_tokens - n_tokens) % $packBudget AS offset_in_seq
       |FROM c ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ w12: overlapping context windows
  /** Stride-overlap chunking — the long-document → context-window splitter
    * (window 32 tokens, stride 24, so consecutive chunks share 8 tokens of
    * context). Complements `w9_sequence_pack`: packing concatenates SHORT
    * docs into full windows; this splits LONG docs into overlapping ones,
    * the standard prep for training on documents longer than the model
    * context. Pure generator shape: tokenize (scalar), explode the stride
    * sequence (narrow — no shuffle anywhere), slice + hash each window.
    * Output rows = chunks, each carrying the md5 of its exact token span
    * so the oracle pins window boundaries, not just counts. At 100 TB
    * this runs entirely inside the scan's codegen stage; the only data
    * movement is the final sink. */
  private val w12ChunkOverlap: Q = (spark, dir) => {
    val win = 32L
    val stride = 24L
    val d = sdocs(spark, dir)
      .select(col("doc_id"), TextPipeline.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    // empty-doc guard: sequence(0, -1, stride) throws in Spark while the
    // DuckDB twin's range(0, 0, 24) is empty — same shape as
    // TextPipeline.shinglesFromTokens' guard, so a tokenizer change that
    // can yield zero tokens keeps both engines agreeing (doc dropped)
    d.withColumn("start", explode(when(col("n_tokens") < 1, array().cast("array<bigint>"))
        .otherwise(sequence(lit(0L), col("n_tokens") - 1, lit(stride)))))
      .withColumn("chunk_id", expr(s"start div $stride"))
      .withColumn("n_chunk_tokens", least(lit(win), col("n_tokens") - col("start")))
      .withColumn("chunk_hash", md5(array_join(
        slice(col("toks"), (col("start") + 1).cast("int"), col("n_chunk_tokens").cast("int")),
        " ")))
      .select("doc_id", "chunk_id", "start", "n_chunk_tokens", "chunk_hash")
      .orderBy("doc_id", "chunk_id")
  }

  private val w12ChunkOverlapSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, toks, n_tokens, unnest(range(0, n_tokens, 24)) AS start
      |  FROM tok)
      |SELECT doc_id, start // 24 AS chunk_id, start,
      |  least(32, n_tokens - start) AS n_chunk_tokens,
      |  md5(array_to_string(
      |    toks[start + 1 : start + least(32, n_tokens - start)], ' ')) AS chunk_hash
      |FROM st ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------------------------ t: inverted index + BM25
  /** Token -> posting-list index, the retrieval-side build (BM25 prep,
    * decontamination lookups, eval-set search). One (doc, token)
    * de-duplication shuffle then one token-keyed agg; posting lists are
    * numerically sorted so their md5 pins EXACT list content against the
    * oracle without shipping arrays through the comparator. At 100 TB
    * postings for stop-word-like tokens are the classic skew: cap or
    * tier them (the LSH bucket-cap pattern); here the closed 31-word
    * vocabulary keeps every list bounded by corpus size. */
  private val tInvertedIndex: Q = (spark, dir) => {
    sdocs(spark, dir)
      .select(col("doc_id"), explode(TextPipeline.tokens(col("text"))).as("tok"))
      .distinct()
      .groupBy("tok")
      .agg(count(lit(1)).as("df"),
        expr("md5(array_join(transform(sort_array(collect_list(doc_id)), x -> CAST(x AS STRING)), ','))")
          .as("postings_md5"))
      .orderBy("tok")
  }

  private val tInvertedIndexSql =
    """WITH dt AS (
      |  SELECT DISTINCT * FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents))
      |SELECT tok, count(*) AS df,
      |  md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS postings_md5
      |FROM dt GROUP BY tok ORDER BY tok""".stripMargin

  /** BM25 (k1 = 1.2, b = 0.75, Lucene idf) for a fixed 3-term query —
    * the lexical-retrieval scorer a curation stack uses for eval-set
    * decontamination and targeted corpus search. Shape: per-doc term
    * frequencies for the query terms only (the explode filters to the
    * query vocabulary before any shuffle), document frequencies and
    * length stats broadcast (query-sized and 1-row), score assembled
    * per (doc, term) and summed per doc. Per the repo convention the
    * per-term scores are rounded then DECIMAL-summed so the <= 3-term
    * addition is order-independent and hash-stable vs the oracle. */
  private val tBm25: Q = (spark, dir) => {
    val qTerms = Seq("data", "join", "vector")
    val docs = sdocs(spark, dir)
      .select(col("doc_id"), TextPipeline.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(qTerms: _*))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val dft = tf.groupBy("tok").agg(countDistinct("doc_id").as("df"))
    tf.join(broadcast(dft), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", round(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))),
        4))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("term_score").cast("decimal(18,4)")).cast("double").as("bm25"))
      .orderBy("doc_id")
  }

  private val tBm25Sql =
    """WITH docs AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (
      |  SELECT t.doc_id, d.dl, tok, count(*) AS tf FROM toks t
      |  JOIN docs d ON t.doc_id = d.doc_id
      |  WHERE tok IN ('data', 'join', 'vector') GROUP BY 1, 2, 3),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
      |dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1)
      |SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST(round(
      |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
      |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS DECIMAL(18,4))) AS DOUBLE) AS bm25
      |FROM tf JOIN dft USING (tok), stats
      |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin

  // ------------------------------------------------------------------ t: iterative BPE trainer
  /** A real greedy BPE TRAINER, not just the pair-count inner loop
    * (`t_bpe_pairs`): five merge rounds, each recounting adjacent-pair
    * frequencies over the CURRENT segmentation before choosing the next
    * merge — the part the single-pass pair count cannot express. The
    * scale shape is the one production BPE trainers use: the corpus is
    * touched ONCE (the fact-scale token pass collapsing to the
    * (word, freq) vocabulary table); every round after that works on the
    * vocabulary — pair counts are a vocab-bounded agg, the argmax is a
    * 1-row driver collect (count desc, pair asc — deterministic), and
    * the merge application is a stateless string rewrite (left-to-right
    * non-overlapping replace, the same greediness both engines share).
    * Output pins the full final segmentation per word, so a wrong merge
    * in ANY round breaks the hash. DuckDB twin: the same rounds as chained
    * MATERIALIZED CTEs with LIMIT-1 argmax blocks. */
  /** Merge rounds both BPE gates train for. 20 proves the loop scales in
    * ROUNDS, not just rows: plan depth stays bounded however many merges
    * run (the realistic regime is 1k–32k). */
  private[graft] val BpeRounds = 20

  /** Hard cap on the word types the BPE trainer's driver loop may hold —
    * ~4M entries (a few hundred MB) is comfortably past any clean
    * corpus' vocabulary and comfortably inside the driver heap; the
    * trainer REFUSES (loudly) past it rather than OOM. */
  private[graft] val BpeMaxVocab = 1 << 22

  /** The trained BPE vocabulary — (word, freq, syms) with syms the
    * space-joined final segmentation after [[BpeRounds]] merges. Shared
    * by the train gate and the encode gate so both surface the SAME
    * merges. */
  private[graft] def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocab(spark, dir, BpeRounds)

  /** syms0 = rtrim(regexp_replace(word, '(.)', '$1 ')) — identical regex.
    * The trailing trim uses \z (absolute end), NOT $: Java's $ also
    * matches before a final line terminator, so a token ending in '\n'
    * (tokens() splits on single spaces only — newlines survive) would
    * lose a space rtrim keeps, diverging from the engines' rtrim. */
  private[graft] def bpeSyms0(word: String): String =
    word.replaceAll("(.)", "$1 ").replaceAll(" +\\z", "")

  private[graft] def bpeVocab(spark: SparkSession, dir: String,
                              rounds: Int): DataFrame =
    bpeVocab(spark, dir, rounds, BpeMaxVocab)

  private[graft] def bpeVocab(spark: SparkSession, dir: String,
                              rounds: Int, maxVocab: Int): DataFrame = {
    import spark.implicits._
    // ONE distributed pass — the corpus collapses to its word-frequency
    // table. The merge rounds then run on the DRIVER over that
    // vocabulary-bounded state: merge-rule training state is O(word
    // types), not O(corpus) (Sennrich's and every production BPE trainer
    // hold exactly this table in memory), the same bounded-collect
    // contract as [[graft.operators.Lloyd]]'s k·d centroid loop. The
    // previous form ran one Spark action PER ROUND over the same bounded
    // table — fixed orchestration ∝ rounds and plan depth ∝ merges, with
    // the corpus-sized work (tokenize + count, and the encode pass in
    // t_bpe_encode) already confined to the distributed stages it still
    // runs in.
    // BOUNDED collect, enforced: the O(word types) argument holds for
    // clean corpora, but noisy web text can blow the type count past
    // driver memory — take(cap+1) bounds what the driver ever holds and
    // fails LOUDLY past the cap (the same explicit-contract guard as
    // Lloyd's seed collect) instead of OOMing mid-round. take() returning
    // <= cap rows IS the complete vocabulary (it only truncates past the
    // cap, where the require fires).
    val wf: Array[(String, Long)] = sdocs(spark, dir)
      .select(explode(TextPipeline.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].take(maxVocab + 1)
    require(wf.length <= maxVocab,
      s"BPE trainer: corpus has more than $maxVocab distinct word types " +
        "— the driver-side merge loop's bounded-state contract does not " +
        "hold; pre-normalize the corpus or raise the cap deliberately")
    // Spark/DuckDB compare strings in UTF-8 BINARY order; Java's
    // compareTo is UTF-16 order, which misorders supplementary planes —
    // replicate the engines' tie-break exactly
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    val words = wf.map(_._1)
    val freqs = wf.map(_._2)
    val syms: Array[String] = words.map(bpeSyms0)
    var done = false
    for (_ <- 1 to rounds if !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[String, Long]
      var i = 0
      while (i < syms.length) {
        val sp = syms(i).split(" ", -1) // Spark split keeps trailing empties
        var j = 0
        while (j < sp.length - 1) {
          val pr = sp(j) + " " + sp(j + 1)
          pairCounts.update(pr, pairCounts.getOrElse(pr, 0L) + freqs(i))
          j += 1
        }
        i += 1
      }
      // vocabulary CONVERGED: every word is one symbol, no adjacent pairs
      // remain — a real trainer stops here whatever the round budget
      if (pairCounts.isEmpty) done = true
      else {
        // ORDER BY c DESC, pr ASC LIMIT 1 — highest count, UTF-8-lowest pair
        var best: String = null
        var bestC = Long.MinValue
        pairCounts.foreach { case (pr, c) =>
          if (c > bestC || (c == bestC && utf8Less(pr, best))) { best = pr; bestC = c }
        }
        require(best.matches("[\\p{Alnum} ]+"),
          s"unexpected characters in BPE merge pair: '$best'")
        val merged = best.replace(" ", "")
        // trim(replace(' '||syms||' ', ' '||best||' ', ' '||merged||' ')):
        // Java String.replace shares UTF8String.replace's left-to-right
        // non-overlapping scan, resuming after the matched text
        var k = 0
        while (k < syms.length) {
          syms(k) = (" " + syms(k) + " ")
            .replace(" " + best + " ", " " + merged + " ").trim
          k += 1
        }
      }
    }
    spark.createDataFrame(
      words.indices.map(i => (words(i), freqs(i), syms(i))))
      .toDF("word", "freq", "syms")
  }

  private val tBpeTrain: Q = (spark, dir) =>
    bpeVocab(spark, dir)
      .select(col("word"), col("freq"), col("syms"),
        size(split(col("syms"), " ")).cast("long").as("n_pieces"))
      .orderBy("word")

  /** t_bpe_encode: the trained tokenizer APPLIED to the corpus — the
    * pass that turns documents into token ids, i.e. the "how many tokens
    * is my corpus, really" question answered with the REAL tokenizer
    * rather than the regex approximation (`t_token_count`). Pieces get
    * deterministic ids (rank in piece order — vocabulary-bounded, so the
    * single-partition window is a few hundred rows whatever the corpus);
    * encoding is one corpus token pass joined to the BROADCAST vocab
    * (word-bounded) and piece-id dictionary — no shuffle touches the
    * corpus beyond the final per-doc aggregate. Output pins per-doc
    * post-BPE token counts plus an id checksum, so a wrong merge, a
    * wrong segmentation, or a wrong dictionary breaks the hash. */
  private val tBpeEncode: Q = (spark, dir) => {
    val vocab = bpeVocab(spark, dir)
    val ids = vocab.select(explode(split(col("syms"), " ")).as("piece")).distinct()
      .withColumn("piece_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("piece")).cast("long"))
    val enc = sdocs(spark, dir)
      .select(col("doc_id"), explode(TextPipeline.tokens(col("text"))).as("word"))
      .join(broadcast(vocab.select("word", "syms")), Seq("word"))
      .select(col("doc_id"), explode(split(col("syms"), " ")).as("piece"))
      .join(broadcast(ids), Seq("piece"))
    enc.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(col("piece_id")).as("id_sum"),
      max(col("piece_id")).as("max_id"))
      .orderBy("doc_id")
  }

  /** The per-round CTE chain, MATERIALIZED: DuckDB inlines a CTE at every
    * reference, so a non-materialized n-round chain re-evaluates 2^n
    * times — fatal at 20 rounds. */
  private def bpeRoundsSql: String =
    (1 to BpeRounds).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s""",
         |p$r AS MATERIALIZED (SELECT pr, CAST(sum(freq) AS BIGINT) AS c FROM (
         |   SELECT freq, sp[s.i] || ' ' || sp[s.i+1] AS pr
         |   FROM (SELECT freq, string_split(syms, ' ') AS sp FROM $prev), s
         |   WHERE s.i <= len(sp) - 1) GROUP BY 1),
         |b$r AS MATERIALIZED (SELECT pr, replace(pr, ' ', '') AS m FROM p$r ORDER BY c DESC, pr LIMIT 1),
         |w$r AS MATERIALIZED (SELECT word, freq, trim(replace(' '||syms||' ', ' '||b$r.pr||' ', ' '||b$r.m||' ')) AS syms FROM $prev, b$r)""".stripMargin
    }.mkString

  private val tBpeTrainSql: String = {
    val rounds = bpeRoundsSql
    s"""WITH s AS (SELECT * FROM generate_series(1, 31) t(i)),
       |tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |wf AS (SELECT word, count(*) AS freq FROM tok GROUP BY 1),
       |w0 AS (SELECT word, freq, rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS syms FROM wf)$rounds
       |SELECT word, freq, syms, CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_pieces
       |FROM w20 ORDER BY word""".stripMargin
  }

  /** The same training rounds, then the corpus encoded with the trained
    * vocabulary — mirrors [[tBpeEncode]] exactly. */
  private val tBpeEncodeSql: String = {
    val rounds = bpeRoundsSql
    s"""WITH s AS (SELECT * FROM generate_series(1, 31) t(i)),
       |tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |wf AS (SELECT word, count(*) AS freq FROM tok GROUP BY 1),
       |w0 AS (SELECT word, freq, rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS syms FROM wf)$rounds,
       |ids AS (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS piece_id
       |  FROM (SELECT DISTINCT unnest(string_split(syms, ' ')) AS piece FROM w20)),
       |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |enc AS (
       |  SELECT doc_id, unnest(string_split(v.syms, ' ')) AS piece
       |  FROM dtok JOIN w20 v USING (word))
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(piece_id) AS BIGINT) AS id_sum,
       |  CAST(max(piece_id) AS BIGINT) AS max_id
       |FROM enc JOIN ids USING (piece)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------ w13: systematic PPS sample
  /** Systematic probability-proportional-to-size sampling — k=50 draws
    * where a document's selection count is proportional to its char
    * weight: lay every doc's weight on a line (the distributed prefix
    * sum), then take equally-spaced sample points (step = total/k,
    * deterministic mid-step start). The classic survey-sampling design,
    * and the deterministic alternative to `sample(fraction)` (whose
    * binomial counts drift per run/partitioning — the same reason w8
    * avoids it): same corpus → same sample, exactly k picks, heavy docs
    * picked with multiplicity. Scale shape: ONE GlobalRank prefix sum
    * (range shuffle + broadcast offsets), a broadcast 1-row total, and a
    * stateless pick-count projection — integer arithmetic throughout
    * (pick counts come from clamped integer ceil-divisions), so Spark and
    * DuckDB agree exactly. */
  private val w13SystematicSample: Q = (spark, dir) => {
    val k = 50L
    val d = sdocs(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
    val cum = graft.operators.GlobalRank
      .withRunningTotal(d, Seq(col("doc_id")), col("w"), "cum")
    val tot = cum.agg(max("cum").as("total"))
    cum.crossJoin(broadcast(tot))
      // undersized-corpus guard: total < k would make step 0, which is a
      // null division in Spark but an error in DuckDB — clamp to 1 (both
      // engines, see the oracle) so tiny corpora degrade to positional
      // sampling identically instead of diverging silently
      .withColumn("step", greatest(lit(1L), expr(s"total div $k")))
      .withColumn("strt", expr("step div 2"))
      .withColumn("f_hi", least(lit(k), greatest(lit(0L),
        expr("(cum - strt + step - 1) div step"))))
      .withColumn("f_lo", least(lit(k), greatest(lit(0L),
        expr("(cum - w - strt + step - 1) div step"))))
      .withColumn("n_picks", col("f_hi") - col("f_lo"))
      .filter(col("n_picks") > 0)
      .select("doc_id", "w", "n_picks")
      .orderBy("doc_id")
  }

  private val w13SystematicSampleSql =
    """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
      |c AS (SELECT doc_id, w,
      |  CAST(sum(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM d),
      |t AS (SELECT max(cum) AS total FROM c),
      |p AS (SELECT c.doc_id, c.w, c.cum,
      |  greatest(1, total // 50) AS step,
      |  greatest(1, total // 50) // 2 AS strt FROM c, t),
      |picks AS (
      |  SELECT doc_id, w,
      |    CAST(least(50, greatest(0, (cum - strt + step - 1) // step))
      |      - least(50, greatest(0, (cum - w - strt + step - 1) // step))
      |      AS BIGINT) AS n_picks
      |  FROM p)
      |SELECT doc_id, w, n_picks FROM picks WHERE n_picks > 0
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ e6: temperature-weighted mixture
  /** Temperature-weighted source sampling (the multi-source rebalancing
    * rule p_i ∝ n_i^α, α = 0.5 — flattens the source distribution so
    * small sources are not drowned by the largest): per-source token
    * counts -> α-powered weights -> expected tokens drawn per source at a
    * fixed 100k-token budget, plus the implied epoch count (how many
    * times each source is replayed at that draw). Scale shape: one
    * (source) hash agg; the normalizing total is a broadcast single row.
    * Quotients are rounded (6/2/4 dp) per the repo convention so
    * summation-order differences cannot flip the hash. */
  private val e6MixtureWeights: Q = (spark, dir) => {
    val per = sdocs(spark, dir)
      .select(col("source"),
        size(TextPipeline.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .withColumn("w_raw", sqrt(col("tokens").cast("double")))
    val tot = per.agg(sum("w_raw").as("w_tot"))
    per.crossJoin(broadcast(tot))
      .withColumn("weight", round(col("w_raw") / col("w_tot"), 6))
      .withColumn("expected_tokens",
        round(col("w_raw") / col("w_tot") * 100000.0, 2))
      .withColumn("epochs",
        round(col("w_raw") / col("w_tot") * 100000.0 / col("tokens"), 4))
      .select("source", "n_docs", "tokens", "weight", "expected_tokens", "epochs")
      .orderBy("source")
  }

  private val e6MixtureWeightsSql =
    """WITH per AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |w AS (SELECT *, sqrt(CAST(tokens AS DOUBLE)) AS w_raw FROM per),
      |tot AS (SELECT sum(w_raw) AS w_tot FROM w)
      |SELECT source, n_docs, tokens,
      |  round(w_raw / w_tot, 6) AS weight,
      |  round(w_raw / w_tot * 100000.0, 2) AS expected_tokens,
      |  round(w_raw / w_tot * 100000.0 / tokens, 4) AS epochs
      |FROM w, tot ORDER BY source""".stripMargin

  // ------------------------------------------------------------------ e7: training-ready manifest (the last mile)
  /** The last mile of the curation story: what a training job actually
    * consumes. Composes four verified stages into one manifest —
    * model-based quality gate (t_quality_model's logistic) -> exact dedup
    * survivors (d1's min-doc_id rule) -> deterministic split assignment
    * (w6's md5 buckets) -> per-split concat-and-chunk sequence packing
    * (w9's budget). Scale shape: the per-split cumsum does NOT use a
    * `PARTITION BY split` window (3 splits = 3 tasks = the single-partition
    * problem reborn); instead ONE grouped prefix sum ordered by
    * (split, doc_id) ([[graft.operators.GlobalRank.withRunningTotalGrouped]])
    * whose per-(partition, split) carry-ins come out of the same range
    * shuffle — no second aggregation pass over the survivors (the r4
    * version derived split offsets from a min() over the cumsum subtree,
    * executing the gate + dedup window twice; VERDICT r4 Wrong #3).
    * One range shuffle + one keyed dedup shuffle total. */
  private val e7TrainingManifest: Q = (spark, dir) => {
    val m = TextPipeline.qualityMetrics(sdocs(spark, dir), "text")
    val z = round(
      lit(-2.0) + lit(0.015) * least(col("n_tokens"), lit(200L)).cast("double")
        + lit(5.0) * col("stopword_ratio") - lit(20.0) * col("punct_ratio"), 4)
    val kept = m.withColumn("z", z)
      .withColumn("quality_prob", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4))
      .filter(col("quality_prob") >= 0.3)
      .withColumn("content_hash", md5(col("text")))
    val wDedup = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy("doc_id")
    val surv = kept.withColumn("rn", row_number().over(wDedup)).filter(col("rn") === 1)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 1))
      .withColumn("split",
        when(col("bucket") < "c", "train")
          .when(col("bucket") < "e", "val")
          .otherwise("test"))
      .select("doc_id", "split", "n_tokens", "quality_prob")
    graft.operators.GlobalRank.withRunningTotalGrouped(
      surv, col("split"), Seq(col("doc_id")), col("n_tokens"), "cum_split")
      .withColumn("start_token", col("cum_split") - col("n_tokens"))
      .withColumn("first_seq", expr(s"start_token div $packBudget"))
      .withColumn("last_seq",
        expr(s"(start_token + n_tokens - 1) div $packBudget"))
      .select("doc_id", "split", "n_tokens", "quality_prob",
        "start_token", "first_seq", "last_seq")
      .orderBy("split", "doc_id")
  }

  private val e7TrainingManifestSql = {
    val stop = sqlList(TextPipeline.stopwords)
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    round(CAST(len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS DOUBLE)
       |      / len(string_split(text, ' ')), 4) AS stopword_ratio,
       |    round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
       |      / length(text), 4) AS punct_ratio
       |  FROM documents),
       |zc AS (
       |  SELECT *, round(-2.0 + 0.015 * CAST(least(n_tokens, 200) AS DOUBLE)
       |    + 5.0 * stopword_ratio - 20.0 * punct_ratio, 4) AS z
       |  FROM f),
       |kept AS (
       |  SELECT doc_id, text, n_tokens,
       |    round(1.0 / (1.0 + exp(-z)), 4) AS quality_prob
       |  FROM zc WHERE round(1.0 / (1.0 + exp(-z)), 4) >= 0.3),
       |ded AS (
       |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM kept),
       |sp AS (
       |  SELECT doc_id, n_tokens, quality_prob,
       |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
       |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM ded WHERE rn = 1),
       |c AS (
       |  SELECT *, CAST(sum(n_tokens) OVER (
       |    PARTITION BY split ORDER BY doc_id) AS BIGINT) AS cum
       |  FROM sp)
       |SELECT doc_id, split, n_tokens, quality_prob,
       |  cum - n_tokens AS start_token,
       |  (cum - n_tokens) // $packBudget AS first_seq,
       |  (cum - 1) // $packBudget AS last_seq
       |FROM c ORDER BY split, doc_id""".stripMargin
  }

  // ------------------------------------------------------------------ t: character entropy
  /** Character-level Shannon entropy per document — the classic gibberish
    * / boilerplate signal (near-zero entropy = repeated filler, unusually
    * high = random noise; cf. Gopher's quality heuristics, Rae et al.
    * 2021, public). Pure scalar fold, no shuffle at all: sort the chars
    * once (O(n log n)), then ONE run-length pass accumulates each
    * distinct char's -p*log2(p) term as its run closes — linear after
    * the sort, vs the r4 version's per-distinct-char rescan of the full
    * array (O(alphabet x length); VERDICT r4 Wrong #4). Terms fold in
    * sorted-char order, the same fixed order at any parallelism the old
    * expression used, so the rounded output is bit-identical. The ''
    * sentinel in the zero-struct is safe: a genuine leading '' element
    * just extends the zero-length run to 1, which is the correct count. */
  private val tEntropy: Q = (spark, dir) => {
    sdocs(spark, dir).select(col("doc_id"), col("lang"),
      expr(
        """round((aggregate(
          |  array_sort(split(text, '')),
          |  named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'acc', CAST(0 AS DOUBLE)),
          |  (s, ch) -> IF(ch = s.prev,
          |    named_struct('prev', s.prev, 'run', s.run + 1L, 'acc', s.acc),
          |    named_struct('prev', ch, 'run', 1L,
          |      'acc', s.acc - IF(s.run > 0L,
          |        (s.run / CAST(length(text) AS DOUBLE))
          |          * log2(s.run / CAST(length(text) AS DOUBLE)), 0D))),
          |  s -> s.acc - IF(s.run > 0L,
          |    (s.run / CAST(length(text) AS DOUBLE))
          |      * log2(s.run / CAST(length(text) AS DOUBLE)), 0D))), 4)""".stripMargin)
        .as("char_entropy"))
      .orderBy("doc_id")
  }

  private val tEntropySql =
    """WITH chars AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      |freq AS (SELECT doc_id, ch, count(*) AS k FROM chars GROUP BY 1, 2),
      |tot AS (SELECT doc_id, lang, CAST(length(text) AS DOUBLE) AS n FROM documents)
      |SELECT t.doc_id, t.lang,
      |  round(-sum((f.k / t.n) * log2(f.k / t.n)), 4) AS char_entropy
      |FROM tot t JOIN freq f ON f.doc_id = t.doc_id
      |GROUP BY t.doc_id, t.lang ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------------------------ bigram LM scoring
  /** t_bigram_lm: language-model quality scoring, the CCNet/KenLM-style
    * signal — a character-bigram LM trained on the corpus itself
    * (add-one smoothing over the observed alphabet), each document scored
    * by its summed negative log2-likelihood. High-NLL docs are gibberish
    * or out-of-domain; this is the classic model-based filter beside the
    * heuristic gates (t_quality_score) and the fixed-weight classifier
    * (t_quality_model).
    *
    * Scale shape: the LM is corpus-global but BOUNDED — bigram types are
    * at most alphabet², context counts at most alphabet — so both tables
    * broadcast at any corpus size and scoring is a narrow broadcast-join
    * pass over the bigram stream; nothing document-sized ever shuffles.
    * Each term is rounded to 4dp then summed as DECIMAL, so the per-doc
    * sum is exact and order-independent (a raw double sum would make the
    * hash depend on aggregation order). */
  private val tBigramLm: Q = (spark, dir) => {
    // spread: the bigram explode is ~|text| rows per doc of scalar work —
    // single-split locally, so without the exchange both passes run on
    // one core (no-op at scale where the corpus has >= cores splits)
    val docs = sdocsSpread(spark, dir).select("doc_id", "text")
    // sequence(1, n) counts DOWN when n < 1 — guard the 0/1-char docs
    val bigrams = docs.select(col("doc_id"),
      explode(expr(
        """IF(length(text) < 2, array(),
          |  transform(sequence(1, length(text) - 1),
          |    i -> substring(text, i, 2)))""".stripMargin)).as("bg"))
    // the TYPE table is ≤ alphabet² rows — cache it so the corpus-wide
    // bigram explode runs exactly twice (once to count, once to score);
    // without the cache each broadcast subtree (counts, context totals,
    // alphabet size) re-evaluates the full explode independently
    val bgCounts = bigrams.groupBy("bg").agg(count(lit(1)).as("c2")).cache()
    val ctxCounts = bgCounts.groupBy(expr("substring(bg, 1, 1)").as("c1ch"))
      .agg(sum("c2").as("c1"))
    val vocab = bgCounts.agg(countDistinct(expr("substring(bg, 2, 1)")).as("v"))
    bigrams
      .join(broadcast(bgCounts), "bg")
      .join(broadcast(ctxCounts), expr("substring(bg, 1, 1)") === col("c1ch"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll", round(-log2(
        (col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double")), 4))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll").cast("decimal(18,4)")).cast("double").as("sum_nll"))
      .orderBy("doc_id")
  }

  // ORACLE SERIES-BOUND INVARIANT: positions come from a static 1..2047
  // series (same contract as the shingle CTEs above) — an overlong doc
  // breaks oracle/engine agreement loudly, never silently.
  private val tBigramLmSql =
    """WITH bg AS (
      |  SELECT doc_id, substring(text, s.i, 2) AS bg
      |  FROM documents, generate_series(1, 2047) s(i)
      |  WHERE s.i <= length(text) - 1),
      |bgc AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
      |ctx AS (SELECT substring(bg, 1, 1) AS c1ch, count(*) AS c1 FROM bg GROUP BY 1),
      |vocab AS (SELECT count(DISTINCT substring(bg, 2, 1)) AS v FROM bg)
      |SELECT b.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(CAST(round(-log2((c.c2 + 1) / CAST(x.c1 + vo.v AS DOUBLE)), 4)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_nll
      |FROM bg b
      |JOIN bgc c ON c.bg = b.bg
      |JOIN ctx x ON x.c1ch = substring(b.bg, 1, 1)
      |CROSS JOIN vocab vo
      |GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ d12: chunk-level cross-document dedup
  /** Line/paragraph-level exact dedup across the whole corpus (the
    * CCNet / RefinedWeb pattern, Wenzek et al. 2020 — public): every
    * document is cut into 20-token chunks scalar-side, each chunk keyed
    * by md5, and only the globally FIRST occurrence (min doc_id, then
    * chunk position) of each chunk survives; documents are then
    * reassembled from their surviving chunks in order. Run over the
    * near-dup feed (corpus + replayed copies with a tail appended), so
    * the copies' full chunks dedup against the originals while their
    * tail chunk survives. Shape: chunking is a narrow Generate, the
    * first-occurrence rule is ONE window over the 16-byte chunk hash,
    * reassembly ONE keyed agg — two linear shuffles, no joins; at 100 TB
    * the hash shuffle is the same single-key exchange as d1 exact dedup. */
  private val d12ChunkDedup: Q = (spark, dir) => {
    val chunks = nearDupFeed(spark, dir).select(col("doc_id"),
      posexplode(expr(
        """transform(
          |  sequence(0, CAST(ceil(size(split(text, ' ')) / 20.0) AS INT) - 1),
          |  i -> array_join(slice(split(text, ' '), i * 20 + 1, 20), ' '))""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("chunk"))).orderBy("doc_id", "chunk_idx")
    chunks.withColumn("rn", row_number().over(w))
      .withColumn("keep", col("rn") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        sort_array(collect_list(when(col("keep"),
          struct(col("chunk_idx"), col("chunk"))))).as("cs"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        md5(array_join(expr("transform(cs, x -> x.chunk)"), " ")).as("kept_hash"))
      .orderBy("doc_id")
  }

  // ORACLE SERIES-BOUND INVARIANT: chunk positions come from a static
  // 0..9 series (>= ceil(100-token max / 20); see the shingle-bound note
  // above) — an overlong doc breaks agreement loudly, never silently.
  private val d12ChunkDedupSql =
    s"""WITH feed AS ($nearDupFeedSql),
       |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM feed),
       |chunks AS (
       |  SELECT doc_id, CAST(g.i AS INTEGER) AS chunk_idx,
       |    array_to_string(w[(CAST(g.i AS INTEGER) * 20 + 1):(CAST(g.i AS INTEGER) * 20 + 20)], ' ') AS chunk
       |  FROM words, generate_series(0, 9) g(i)
       |  WHERE CAST(g.i AS INTEGER) * 20 + 1 <= len(w)),
       |flag AS (
       |  SELECT *, row_number() OVER (PARTITION BY md5(chunk)
       |    ORDER BY doc_id, chunk_idx) AS rn
       |  FROM chunks)
       |SELECT doc_id, count(*) AS n_chunks,
       |  count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
       |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
       |    ORDER BY chunk_idx), '')) AS kept_hash
       |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ D14: exact substring-span dedup
  /** d14: exact duplicated-SPAN detection at character granularity — the
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022) signal, re-expressed as rolling windows instead of suffix
    * arrays: every 40-char window of every document is hashed, a window
    * whose content already occurs in an EARLIER document marks its chars
    * as copied, and each document reports its window count, cross-doc
    * duplicated-window count, duplication share in exact basis points
    * (integer division — no float-rounding seam between engines), and a
    * majority-duplicated verdict.
    *
    * Scale shape: window enumeration is a narrow per-row transform (the
    * 40-char strings exist only in flight); the wide ops are one hash
    * shuffle (min-doc per window content via a window function — no
    * join back) and one doc_id rollup. The window hash is engine-internal
    * (only the resulting counts are compared), so Spark uses xxhash64 —
    * 8 bytes on the wire where the oracle's md5 twin shuffles 32-char
    * strings; both are collision-free at corpus size, and a 100 TB run
    * would move to a 128-bit hash plus stride/winnowing to trim the
    * window stream — the plan shape is unchanged. */
  private val d14SubstringDedup: Q = (spark, dir) => {
    val docs = sdocsSpread(spark, dir).filter(length(col("text")) >= 40)
    val w = docs.select(col("doc_id"),
      explode(expr(
        "transform(sequence(1, length(text) - 39), p -> xxhash64(substring(text, p, 40)))"))
        .as("h"))
    val byContent = org.apache.spark.sql.expressions.Window.partitionBy("h")
    w.withColumn("first_doc", min("doc_id").over(byContent))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count(when(col("first_doc") < col("doc_id"), lit(1))).as("dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("dup_windows"),
        expr("10000 * dup_windows div n_windows").as("dup_bp"),
        (col("dup_windows") * 2 > col("n_windows")).as("is_dup"))
      .orderBy("doc_id")
  }

  // ORACLE SERIES-BOUND INVARIANT: window starts come from a static
  // 1..20000 series (documents cap out well below; an overlong doc would
  // disagree loudly because Spark enumerates every window).
  private val d14SubstringDedupSql =
    """WITH w AS (
      |  SELECT doc_id, md5(substr(text, CAST(p AS INTEGER), 40)) AS h
      |  FROM documents, generate_series(1, 20000) s(p)
      |  WHERE length(text) >= 40 AND p <= length(text) - 39),
      |m AS (SELECT h, min(doc_id) AS first_doc FROM w GROUP BY 1),
      |d AS (
      |  SELECT w.doc_id, count(*) AS n_windows,
      |    count(CASE WHEN m.first_doc < w.doc_id THEN 1 END) AS dup_windows
      |  FROM w JOIN m USING (h) GROUP BY 1)
      |SELECT doc_id, n_windows, dup_windows,
      |  CAST(10000 * dup_windows // n_windows AS BIGINT) AS dup_bp,
      |  dup_windows * 2 > n_windows AS is_dup
      |FROM d ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ E4: end-to-end curation pipeline
  /** The full corpus-curation pipeline as ONE composed query — what a
    * training-data engine actually runs: normalize -> quality-filter ->
    * exact-dedup -> near-dup components -> canonical survivors ->
    * per-language corpus stats. Every stage is the already-verified
    * operator (tQuality / d1 / d2 / d6 semantics) composed end-to-end;
    * the oracle replays the same composition in SQL with the recursive-CTE
    * component step. Scale shape: narrow projections + hash aggregations +
    * the bucketed LSH join; no stage materializes more than the surviving
    * rows of the previous one. */
  /** Stages 1-3 of the curation pipeline (quality gate -> normalize ->
    * exact dedup), shared by e4 and the e4b refusal audit. */
  private def curationUniq(d: DataFrame): DataFrame = {
    val ok = TextPipeline.qualityMetrics(d, "text")
      .filter(col("quality_bucket") === "ok")
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(lower(col("text")), "[.!?,;:]", ""),
          " +", " ").as("ntext"))
    val exw = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("ntext"))).orderBy("doc_id")
    ok.withColumn("rn", row_number().over(exw))
      .filter(col("rn") === 1).select("doc_id", "ntext")
  }

  /** Stage-4 feed: minhash signatures of the deduped normalized text via
    * the scalar one-pass expression (zero shuffle). */
  private def curationSig(spark: SparkSession, uniq: DataFrame): DataFrame =
    scalarSig(spark, uniq, "ntext")

  private val e4TextPipeline: Q = (spark, dir) => {
    val d = sdocsSpread(spark, dir)
    // 1-3. quality gate, normalization, exact dedup. CHECKPOINTED: the
    // deduped corpus feeds the signature pass, the component vertex set,
    // and the final language join. localCheckpoint beats cache() here
    // AND plain recompute (r16 A/B min-of-3: ckpt 3.49 s, cache 4.94 s,
    // plain 5.18 s) because it also TRUNCATES LINEAGE — each consumer
    // re-planned the whole quality+md5-window subtree under cache(),
    // which only dedupes execution. Fault tolerance: localCheckpoint
    // keeps the blocks on the executors that computed them and drops the
    // lineage, so losing one of those executors fails the query instead
    // of recomputing the corpus — the trade
    // [[graft.operators.Allocation.allocateRounds]] documents. The 100 TB
    // form of this pipeline materializes the same intermediate as a table
    // between stages (parquet write + re-read, its stateDir route).
    val uniq = curationUniq(d).localCheckpoint()
    // 4. near-dup components over LSH candidates; canonical = smallest id
    val sig = curationSig(spark, uniq)
    // the production bucket cap is LIVE in the composed pipeline — the one
    // query a real corpus run executes must carry the skew guard, not just
    // the gated d2c variant; refusals are surfaced by e4b
    val pairs = TextPipeline.lshCandidatePairs(sig, "doc_id", 8, 2,
        maxBucket = TextPipeline.DefaultMaxBucket)
      .withColumn("key", lit(""))
    val comp = graft.operators.GraphCC.connectedComponents(
      uniq.select(lit("").as("key"), col("doc_id").as("id")), pairs)
    val survivors = comp.filter(col("id") === col("comp"))
      .select(col("id").as("doc_id"))
    // 5. per-language stats over the surviving canonical corpus
    TextPipeline.langId(uniq.join(survivors, "doc_id"), "ntext")
      .groupBy(col("predicted_lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("ntext"), " "))).cast("long").as("total_tokens"))
      .orderBy("lang")
  }

  private val e4TextPipelineSql = {
    val m = TextPipeline.langMarkers
    s"""WITH RECURSIVE metrics AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
       |      / length(text), 4) AS punct_ratio,
       |    round(CAST(len(list_filter(string_split(text, ' '),
       |        x -> x IN ${sqlList(TextPipeline.stopwords)})) AS DOUBLE)
       |      / len(string_split(text, ' ')), 4) AS stopword_ratio
       |  FROM documents),
       |ok AS (
       |  SELECT d.doc_id,
       |    regexp_replace(regexp_replace(lower(d.text), '[.!?,;:]', '', 'g'), ' +', ' ', 'g') AS ntext
       |  FROM documents d JOIN metrics m ON d.doc_id = m.doc_id
       |  WHERE NOT (m.n_tokens < 20) AND NOT (m.stopword_ratio > 0.4)
       |    AND NOT (m.punct_ratio > 0.1)),
       |uniq AS (
       |  SELECT doc_id, ntext FROM (
       |    SELECT doc_id, ntext,
       |      row_number() OVER (PARTITION BY md5(ntext) ORDER BY doc_id) AS rn
       |    FROM ok) WHERE rn = 1),
       |feed AS (SELECT doc_id, ntext AS text FROM uniq),
       |$shinglesSql,
       |sig AS (
       |  SELECT doc_id,
       |    $sigSql
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, h0 || '|' || h1 || '|' || h2 || '|' || h3 AS band_val FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h4 || '|' || h5 || '|' || h6 || '|' || h7 AS band_val FROM sig),
       |lsized AS (SELECT band, band_val, count(*) AS bucket_n FROM banded GROUP BY 1, 2),
       |lkeep AS (
       |  SELECT bd.doc_id, bd.band, bd.band_val
       |  FROM banded bd JOIN lsized s ON bd.band = s.band AND bd.band_val = s.band_val
       |  WHERE s.bucket_n <= ${TextPipeline.DefaultMaxBucket}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM lkeep a JOIN lkeep b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
       |cedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |  UNION ALL SELECT doc_id, doc_id FROM feed),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM cedges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN cedges e ON r.dst = e.src),
       |comp AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY 1),
       |surv AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
       |scored AS (
       |  SELECT f.doc_id, f.text,
       |    len(list_filter(string_split(f.text, ' '), x -> x IN ${sqlList(m("en"))})) AS score_en,
       |    len(list_filter(string_split(f.text, ' '), x -> x IN ${sqlList(m("es"))})) AS score_es,
       |    len(list_filter(string_split(f.text, ' '), x -> x IN ${sqlList(m("de"))})) AS score_de,
       |    len(list_filter(string_split(f.text, ' '), x -> x IN ${sqlList(m("fr"))})) AS score_fr
       |  FROM feed f JOIN surv s ON f.doc_id = s.doc_id),
       |langd AS (
       |  SELECT doc_id, text,
       |    CASE WHEN score_en + score_es + score_de + score_fr = 0 THEN 'und'
       |         WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
       |         WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
       |         WHEN score_de >= score_fr THEN 'de'
       |         ELSE 'fr' END AS lang
       |  FROM scored)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
       |FROM langd GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------------------------ E4b: curation refusal audit
  /** Boilerplate block for the refusal audit: a long common body with a
    * unique tail token per copy. Passes the quality gate (31 tokens, no
    * stopwords, no punctuation), survives exact dedup (every text
    * distinct), yet shares 28 of 29 shingles — so nearly every copy lands
    * in the same LSH band bucket. The realistic shape (headers, licenses,
    * templated pages) that makes an uncapped corpus run quadratic. */
  private val e4BoilerBody =
    "storage tank inspection protocol requires annual pressure testing corrosion " +
      "monitoring valve calibration seal replacement gauge verification ladder " +
      "maintenance vent cleaning foundation survey coating assessment emergency " +
      "drill documentation archive review schedule"

  private def e4AuditFeed(spark: SparkSession, dir: String): DataFrame = {
    val d = sdocs(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val block = spark.range(1, 1401).select((col("id") + 30000).as("doc_id"),
      concat(lit(e4BoilerBody + " tail"), col("id")).as("text"))
    d.unionByName(block)
  }

  private val e4AuditFeedSql =
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |UNION ALL
       |SELECT 30000 + g.i AS doc_id, '$e4BoilerBody tail' || CAST(g.i AS VARCHAR) AS text
       |FROM generate_series(1, 1400) g(i)""".stripMargin

  /** e4b: what the composed pipeline's LIVE bucket cap refused, and how
    * big each refused bucket was — the audit half of the e4 skew guard,
    * run at the same production `DefaultMaxBucket` over a corpus carrying
    * a realistic boilerplate flood. Done right, dedup at 100 TB is
    * `e4_text_pipeline` for the pairs plus THIS query in the run report. */
  private val e4bCurationRefusals: Q = (spark, dir) =>
    TextPipeline.lshDroppedBuckets(
      curationSig(spark, curationUniq(e4AuditFeed(spark, dir))),
      "doc_id", 8, 2, maxBucket = TextPipeline.DefaultMaxBucket)
      .orderBy("band", "band_val")

  private val e4bCurationRefusalsSql = {
    s"""WITH docs AS ($e4AuditFeedSql),
       |metrics AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
       |      / length(text), 4) AS punct_ratio,
       |    round(CAST(len(list_filter(string_split(text, ' '),
       |        x -> x IN ${sqlList(TextPipeline.stopwords)})) AS DOUBLE)
       |      / len(string_split(text, ' ')), 4) AS stopword_ratio
       |  FROM docs),
       |ok AS (
       |  SELECT d.doc_id,
       |    regexp_replace(regexp_replace(lower(d.text), '[.!?,;:]', '', 'g'), ' +', ' ', 'g') AS ntext
       |  FROM docs d JOIN metrics m ON d.doc_id = m.doc_id
       |  WHERE NOT (m.n_tokens < 20) AND NOT (m.stopword_ratio > 0.4)
       |    AND NOT (m.punct_ratio > 0.1)),
       |uniq AS (
       |  SELECT doc_id, ntext FROM (
       |    SELECT doc_id, ntext,
       |      row_number() OVER (PARTITION BY md5(ntext) ORDER BY doc_id) AS rn
       |    FROM ok) WHERE rn = 1),
       |feed AS (SELECT doc_id, ntext AS text FROM uniq),
       |$shinglesSql,
       |sig AS (
       |  SELECT doc_id,
       |    $sigSql
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, h0 || '|' || h1 || '|' || h2 || '|' || h3 AS band_val FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, h4 || '|' || h5 || '|' || h6 || '|' || h7 AS band_val FROM sig)
       |SELECT band, band_val, count(*) AS bucket_n FROM banded GROUP BY 1, 2
       |HAVING count(*) > ${TextPipeline.DefaultMaxBucket}
       |ORDER BY band, band_val""".stripMargin
  }

  // ------------------------------------------------------------------ registry
  val queries: Map[String, Q] = Map(
    "t_lang_id" -> tLangId,
    "t_quality_score" -> tQuality,
    "t_token_count" -> tTokens,
    "t_fingerprint" -> tFingerprint,
    "t_fingerprint_native" -> tFingerprintNative,
    "t_normalize" -> tNormalize,
    "a13_percentile" -> a13Percentile,
    "d1_exact_dedup" -> d1ExactDedup,
    "d2_minhash_signature" -> d2MinhashSig,
    "d2b_minhash_agg" -> d2bMinhashAgg,
    "d2e_minhash_scalar" -> d2eMinhashScalar,
    "d2_lsh_pairs" -> d2LshPairs,
    "d2c_lsh_capped" -> d2cLshCapped,
    "d2d_lsh_dropped" -> d2dLshDropped,
    "d3_simhash" -> d3Simhash,
    "d3b_simhash_native" -> d3bSimhashNative,
    "d4_ngram_jaccard" -> d4Jaccard,
    "d8_global_shuffle" -> d8GlobalShuffle,
    "d9_simhash_pairs" -> d9SimhashPairs,
    "d9b_simhash_dropped" -> d9bSimhashDropped,
    "d6_neardup_components" -> d6NeardupComponents,
    "d7_canonical_docs" -> d7CanonicalDocs,
    "t_repetition" -> tRepetition,
    "t_pii_redact" -> tPiiRedact,
    "t_boilerplate_ngrams" -> tBoilerplate,
    "t_vocab_topk" -> tVocabTopk,
    "d10_decontaminate" -> d10Decontaminate,
    "d11_incremental_dedup" -> d11IncrementalDedup,
    "w6_train_split" -> w6TrainSplit,
    "w7_split_counts" -> w7SplitCounts,
    "w8_stratified_sample" -> w8StratifiedSample,
    "e4_text_pipeline" -> e4TextPipeline,
    "e4b_curation_refusals" -> e4bCurationRefusals,
    "e5_data_mixture" -> e5DataMixture,
    "w9_sequence_pack" -> w9SequencePack,
    "w10_curriculum" -> w10Curriculum,
    "w12_chunk_overlap" -> w12ChunkOverlap,
    "w13_systematic_sample" -> w13SystematicSample,
    "t_inverted_index" -> tInvertedIndex,
    "t_bm25" -> tBm25,
    "t_bpe_train" -> tBpeTrain,
    "t_bpe_encode" -> tBpeEncode,
    "e6_mixture_weights" -> e6MixtureWeights,
    "t_quality_model" -> tQualityModel,
    "t_bpe_pairs" -> tBpePairs,
    "e7_training_manifest" -> e7TrainingManifest,
    "t_entropy" -> tEntropy,
    "t_bigram_lm" -> tBigramLm,
    "d12_chunk_dedup" -> d12ChunkDedup,
    "d14_substring_dedup" -> d14SubstringDedup
  )

  val oracle: Map[String, String] = Map(
    "t_lang_id" -> tLangIdSql,
    "t_quality_score" -> tQualitySql,
    "t_token_count" -> tTokensSql,
    "t_fingerprint" -> tFingerprintSql,
    "t_fingerprint_native" -> tFingerprintSql,
    "t_normalize" -> tNormalizeSql,
    "a13_percentile" -> a13PercentileSql,
    "d1_exact_dedup" -> d1ExactDedupSql,
    "d2_minhash_signature" -> d2MinhashSigSql,
    "d2b_minhash_agg" -> d2MinhashSigSql,
    "d2e_minhash_scalar" -> d2MinhashSigSql,
    "d2_lsh_pairs" -> d2LshPairsSql,
    "d2c_lsh_capped" -> d2cLshCappedSql,
    "d2d_lsh_dropped" -> d2dLshDroppedSql,
    "d3_simhash" -> d3SimhashSql,
    "d3b_simhash_native" -> d3SimhashSql,
    "d4_ngram_jaccard" -> d4JaccardSql,
    "d8_global_shuffle" -> d8GlobalShuffleSql,
    "d9_simhash_pairs" -> d9SimhashPairsSql,
    "d9b_simhash_dropped" -> d9bSimhashDroppedSql,
    "d6_neardup_components" -> d6NeardupComponentsSql,
    "d7_canonical_docs" -> d7CanonicalDocsSql,
    "t_repetition" -> tRepetitionSql,
    "t_pii_redact" -> tPiiRedactSql,
    "t_boilerplate_ngrams" -> tBoilerplateSql,
    "t_vocab_topk" -> tVocabTopkSql,
    "d10_decontaminate" -> d10DecontaminateSql,
    "d11_incremental_dedup" -> d11IncrementalDedupSql,
    "w6_train_split" -> w6TrainSplitSql,
    "w7_split_counts" -> w7SplitCountsSql,
    "w8_stratified_sample" -> w8StratifiedSampleSql,
    "e4_text_pipeline" -> e4TextPipelineSql,
    "e4b_curation_refusals" -> e4bCurationRefusalsSql,
    "e5_data_mixture" -> e5DataMixtureSql,
    "w9_sequence_pack" -> w9SequencePackSql,
    "w10_curriculum" -> w10CurriculumSql,
    "w12_chunk_overlap" -> w12ChunkOverlapSql,
    "w13_systematic_sample" -> w13SystematicSampleSql,
    "t_inverted_index" -> tInvertedIndexSql,
    "t_bm25" -> tBm25Sql,
    "t_bpe_train" -> tBpeTrainSql,
    "t_bpe_encode" -> tBpeEncodeSql,
    "e6_mixture_weights" -> e6MixtureWeightsSql,
    "t_quality_model" -> tQualityModelSql,
    "t_bpe_pairs" -> tBpePairsSql,
    "e7_training_manifest" -> e7TrainingManifestSql,
    "t_entropy" -> tEntropySql,
    "t_bigram_lm" -> tBigramLmSql,
    "d12_chunk_dedup" -> d12ChunkDedupSql,
    "d14_substring_dedup" -> d14SubstringDedupSql
  )
}
