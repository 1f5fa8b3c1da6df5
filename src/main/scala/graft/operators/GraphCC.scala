package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic distributed connected components: frontier-based Hash-Min label
  * propagation over an edge list, keyed so many independent graphs (one per
  * `key`) resolve in the same pass.
  *
  * Used by near-dup document clustering (d6/d7) — the "collapse LSH
  * candidate pairs into duplicate clusters" step every corpus-scale dedup
  * pipeline ends with (reference merge semantics: `form_calcs.py:748-792`,
  * re-expressed as order-independent components).
  *
  * Scale shape: each round propagates labels only from vertices whose label
  * changed last round (if a label did not change, every neighbor already saw
  * it — all vertices enter the frontier via the seed round). The per-round
  * work is one scan of the label table left-joined against a broadcast of
  * the aggregated improvements; the next frontier falls out of that same
  * scan. Merge/dedup graphs have tiny components, so the frontier collapses
  * from |V| to a few hundred rows after the seed and rounds 2..diameter are
  * near-free — O(diameter) rounds, exactly one of which touches all
  * vertices. Only the frontier — whose exact size is counted each round —
  * is explicitly broadcast-hinted; the aggregated neighbor-min sides
  * (`nbrMin`, `cand`) are left to AQE, which sizes them from runtime stats,
  * so a pathological expander graph degrades to a plain hash join instead
  * of an OOM. That safety depends on adaptive execution being on, which
  * [[connectedComponents]] asserts up front. AQE's partition coalescing
  * also sets each round's shuffle width from runtime sizes, so the
  * operator writes no session conf.
  */
object GraphCC {

  /** Connected components of the undirected graph (`vertices`, `pairs`).
    *
    * @param vertices (key, id) — every vertex, including isolated ones
    * @param pairs    (key, id_a, id_b) — one row per undirected edge (either
    *                 direction; symmetrized internally)
    * @return (key, id, comp) where comp = smallest id reachable from id;
    *         hash-partitioned on (key, id)
    * @throws IllegalArgumentException if a component's diameter exceeds
    *         maxIter (wrong labels would otherwise be returned silently)
    *
    * `broadcastThreshold` caps how large the FRONTIER may be and still get
    * the explicit broadcast hint (it is the only table hinted — the
    * aggregated neighbor-min sides are AQE-planned from runtime stats);
    * above it the loop degrades to a plain hash join (the safe plan for
    * expander-shaped graphs). Exposed for tests, which pin the fallback
    * path at threshold 0.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
                          maxIter: Int = 50,
                          broadcastThreshold: Long = 500000L): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim.detachStats
    // the unhinted aggregated joins rely on AQE to right-size their strategy;
    // with it off a huge neighbor-min side could plan as a broadcast OOM
    val spark = vertices.sparkSession
    require(spark.conf.get("spark.sql.adaptive.enabled", "true")
      .toBoolean, "GraphCC.connectedComponents requires adaptive query execution")
    val edges = detachStats(pairs.select("key", "id_a", "id_b").unionByName(
        pairs.select(col("key"), col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint())
    // Seed round = round 1 of Hash-Min: comp(v) = min(v, min neighbor id).
    // The neighbor-min aggregation is inlined into the seed join — no
    // separate materialization: its size is unknown, so join strategy is
    // AQE's call from runtime stats (the bench/verify sessions run with
    // adaptive on; a pathological expander degrades to a hash join, not an
    // OOM). Per round this plan costs exactly ONE job: the checkpoint is
    // LAZY and the frontier count is the action that materializes it —
    // the count plans on top of the checkpointed RDD, so the label table
    // is computed once, pinned, and measured in the same pass (the
    // earlier eager-checkpoint-then-count shape paid two jobs per round,
    // and the fixpoint is orchestration-bound at any per-key-small scale).
    val nbrMin = edges.groupBy(col("key"), col("id_a").as("id"))
      .agg(min(col("id_b")).as("nbr"))
    var comps = detachStats(vertices.select(col("key"), col("id"))
      .join(nbrMin, Seq("key", "id"), "left")
      .select(col("key"), col("id"),
        least(col("id"), coalesce(col("nbr"), col("id"))).as("comp"),
        (coalesce(col("nbr"), col("id")) < col("id")).as("chg"))
      .localCheckpoint(false))
    var frontier = comps.filter(col("chg")).select("key", "id", "comp")
    var frontierSize = frontier.count()
    var iter = 1
    while (frontierSize > 0 && iter < maxIter) {
      // frontierSize is exact (counted last round) — a small frontier
      // broadcast against the edge table avoids re-shuffling edges per
      // round; the hint costs nothing because the size is already known
      val fHinted = if (frontierSize <= broadcastThreshold) broadcast(frontier)
                    else frontier
      val msgs = fHinted.as("f").join(edges.as("e"),
          col("f.key") === col("e.key") && col("f.id") === col("e.id_a"))
        .select(col("f.key").as("key"), col("e.id_b").as("id"), col("f.comp").as("comp"))
      // the neighbor-min candidates stay inlined (one row per distinct
      // neighbor of a frontier vertex — can exceed the frontier by the
      // average degree, so no blind broadcast hint; AQE decides from the
      // runtime size of the aggregated side)
      val cand = msgs.groupBy("key", "id").agg(min(col("comp")).as("cand"))
      comps = detachStats(comps.as("c")
        .join(cand, Seq("key", "id"), "left")
        .select(col("key"), col("id"),
          least(col("c.comp"), coalesce(col("cand"), col("c.comp"))).as("comp"),
          (coalesce(col("cand"), col("c.comp")) < col("c.comp")).as("chg"))
        .localCheckpoint(false))
      frontier = comps.filter(col("chg")).select("key", "id", "comp")
      frontierSize = frontier.count()
      iter += 1
      if (sys.env.contains("SPARK_GRAFT_CC_LOG"))
        System.err.println(s"[graphcc] round $iter frontier=$frontierSize")
    }
    // a component with diameter > maxIter would silently return wrong
    // labels — fail loudly instead
    require(frontierSize == 0,
      s"Hash-Min connected components did not converge in $maxIter iterations; " +
        "raise maxIter (component diameter exceeds the bound)")
    comps.select("key", "id", "comp")
  }
}
