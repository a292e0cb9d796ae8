package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph centrality (PageRank) as fixed-iteration Spark
  * plans with EXACT integer fixed-point arithmetic.
  *
  * Rank mass rides as a scaled BIGINT (10^15 = total mass 1.0): every
  * per-iteration step — contribution = pr DIV outdeg, damping =
  * (85 · c) DIV 100, teleport = (15 · SCALE) DIV (100 · N) — is
  * integral, so the distributed summation order cannot perturb a
  * single bit and the DuckDB oracle replays every iteration to the
  * last digit (the same trick as Eval's decimal rank arithmetic). A
  * float PageRank would be ulp-hostage to partition merge order.
  *
  * Scale shape: the edge list is deduplicated, degree-annotated ONCE
  * and checkpointed hash-partitioned on `src`; each iteration is one
  * equi-join (edges ⋈ ranks on src — ranks are node-sized, the edge
  * side reuses its partitioning) plus one partial-aggregated shuffle
  * of contributions on `dst` — the unavoidable PageRank shuffle, never
  * an all-pairs shape. Iterations are checkpointed so lineage stays
  * flat (the dd_clusters rule). N arrives as a driver literal (one
  * count — model-sized), keeping the per-iteration plan join-only.
  */
object Graph {

  /** Total rank mass in fixed-point units. */
  val Scale = 1000000000000000L // 10^15

  /** Top-k PageRank over a directed edge list (`src`, `dst`); pass
    * both directions for an undirected graph. CALLER CONTRACT: every
    * node must appear as a `src` (out-degree ≥ 1) — the node set is
    * derived from src keys, so a sink-only node would be absent from
    * the rank frame and its inbound mass would leak (contributions to
    * it vanish in the ranks-side join). Undirected both-direction
    * edges satisfy this by construction; a genuinely directed graph
    * with dangling nodes needs self-loops or a dangling-mass term the
    * caller must add. This is a contract, not a runtime check (a
    * dst⊆src anti-join per call would cost a full extra shuffle).
    * Returns (node, pr) with pr in Scale units, ordered (pr DESC,
    * node) via TakeOrderedAndProject. */
  def pageRankTopK(edgesRaw: DataFrame, iterations: Int, k: Int): DataFrame =
    // repartition(src) FIRST: hash partitioning on src satisfies the
    // (src, dst) dedup clustering (same pair → same partition), so the
    // dedup aggregation runs in-partition and the checkpointed frame
    // comes out partitioned on the iteration join key — one shuffle
    // where distinct().repartition(src) would pay two. Unit weights
    // make the core's (pr·w) DIV outw identical to pr DIV outdeg.
    pageRankCore(Dedup.checkpointTracked(
      edgesRaw.select("src", "dst").repartition(col("src"))
        .dropDuplicates("src", "dst").withColumn("w", lit(1L))),
      iterations, k)

  /** Weighted PageRank over a directed multigraph edge list: parallel
    * (src, dst) pairs collapse to an integer weight (multiplicity) and
    * contributions split proportionally — contribution =
    * (pr · w) DIV Σw, still fully integral. pr·w fits a signed 64-bit
    * only while max weight ≤ Long.MaxValue/Scale (~9.2·10^3 at
    * Scale=10^15) — ASSERTED after the weight aggregation (one scan of
    * the checkpointed edge frame), so a hotter multiplicity fails
    * loudly instead of silently overflowing every iteration. Same
    * one-shuffle build: the weight aggregation runs in-partition under
    * the src partitioning. */
  def pageRankWeightedTopK(edgesRaw: DataFrame, iterations: Int,
      k: Int): DataFrame = {
    val edges = Dedup.checkpointTracked(
      edgesRaw.select("src", "dst").repartition(col("src"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w")))
    val maxRow = edges.agg(max("w")).head
    // max over zero rows is NULL — keep the clean empty-graph require
    // (pageRankCore's) instead of an opaque NPE here
    val maxW = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    require(maxW <= Long.MaxValue / Scale,
      s"weighted PageRank: max edge multiplicity $maxW overflows " +
        s"pr*w at Scale=$Scale (bound ${Long.MaxValue / Scale})")
    pageRankCore(edges, iterations, k)
  }

  /** Personalized PageRank: teleport mass flows ONLY to `seeds` —
    * ranks answer "how close is this node to the seed set" (the
    * related-items / topic-affinity form). Same exact integer
    * arithmetic; seeds initialize with Scale/|S| and receive the whole
    * teleport term, non-seeds start (and teleport) at zero. The seed
    * flag rides the rank frame so iterations stay join-only. */
  def personalizedPageRankTopK(edgesRaw: DataFrame, seedPred: Column,
      iterations: Int, k: Int): DataFrame =
    pageRankCore(Dedup.checkpointTracked(
      edgesRaw.select("src", "dst").repartition(col("src"))
        .dropDuplicates("src", "dst").withColumn("w", lit(1L))),
      iterations, k, Some(seedPred))

  /** Shared iteration core over a (src, dst, w) edge frame already
    * partitioned on src. `seedPred` (over the node id as `src`)
    * switches uniform teleport to seed-restricted teleport.
    *
    * Single-action contract: the last iteration is not checkpointed,
    * so the returned top-k frame is one join deep over the previous
    * checkpoint. Each action on it re-runs that final join; a caller
    * that needs more than one action should persist the result. */
  private def pageRankCore(edges: DataFrame, iterations: Int,
      k: Int, seedPred: Option[Column] = None): DataFrame = {
    val deg = edges.groupBy("src").agg(sum("w").as("outw"))
    val ed = Dedup.checkpointTracked(edges.join(deg, "src"))
    val withSeed = deg.withColumn("_seed",
      seedPred.getOrElse(lit(true)).cast("boolean"))
    val n = seedPred match {
      case None => deg.count()
      case Some(_) =>
        val s = withSeed.filter(col("_seed")).count()
        require(s > 0, "personalized PageRank: no seed matches a node")
        s
    }
    require(n > 0, "pageRank: empty graph")
    val base = (15L * Scale) / (100L * n)
    var ranks = Dedup.checkpointTracked(
      withSeed.select(col("src").as("node"), col("_seed"),
        when(col("_seed"), lit(Scale / n)).otherwise(lit(0L)).as("pr")))
    for (i <- 1 to iterations) {
      val contrib = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), expr("(pr * w) DIV outw").as("c"))
        .groupBy("dst").agg(sum("c").as("c"))
      val upd = ranks.select("node", "_seed")
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), col("_seed"),
          (when(col("_seed"), lit(base)).otherwise(lit(0L)) +
            expr("(85 * coalesce(c, CAST(0 AS BIGINT))) DIV 100")).as("pr"))
      // checkpoint BETWEEN iterations only (r19): iteration i+1 reads
      // its predecessor twice (contrib side + teleport side), so the
      // mid-loop leaves stay eager — but the LAST iteration's only
      // consumer is the single top-k action below, so its dedicated
      // materialization job was one full rank-frame write + re-read
      // for nothing (the plan over the previous leaf is one join
      // deep). One job per PageRank query saved, identical values.
      // (A lazy-checkpoint variant of the whole loop was measured and
      // REVERTED: concurrent branches of one job racing to
      // materialize the same lazy leaf serialize on block locks —
      // q_pagerank_weighted 5.0 → 6.8 s, tx_curation6 8.4 → 11.8 s.)
      ranks = if (i < iterations) Dedup.checkpointTracked(upd) else upd
    }
    ranks.select("node", "pr").orderBy(desc("pr"), asc("node")).limit(k)
  }
}
