package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.CacheScope
import GraphLoop.Sum

/** Link-graph centrality for corpus curation — the rank signal web-scale
  * pipelines weight crawl hosts and co-visitation items with (CCNet-style
  * corpora keep "high-rank" hosts; recommender curation ranks items by
  * random-walk mass).
  *
  * Both operators run in EXACT FIXED-POINT INTEGER arithmetic: scores are
  * longs scaled by `scale`, every per-edge share is an integer division,
  * and every reduction is a sum of longs — associative, order-independent,
  * overflow-checked. That makes ranks bit-identical across partitionings,
  * re-runs, executor counts, AND engines (the DuckDB oracle replays the
  * same recurrence to the same bits), where a floating-point PageRank
  * drifts in the low mantissa bits with every shuffle reordering. At
  * 100 TB, reproducible curation decisions are the difference between an
  * auditable corpus and one that changes under re-execution.
  *
  * The rounds run on [[GraphLoop]] (shared with connected components):
  * fixed-count and fully LAZY on the distributed backend — the per-round
  * scalar (dangling mass / L1 total) is replicated inside the DAG instead
  * of folded on the driver, so the whole iteration materializes under ONE
  * driver job at the end, at any executor count.
  */
object GraphRank {

  /** Exact fixed-point PageRank over a directed edge list.
    *
    * @param edges relation with long columns `src`, `dst` (parallel edges
    *              are collapsed; self-loops count like any edge)
    * @param iters fixed iteration count (power iteration; ~log(N)/log(1/d)
    *              rounds reach link-curation stability — 8 is the usual
    *              crawl-ranking setting)
    * @param scale fixed-point unit: returned ranks sum to ~`scale`
    *              (truncation leaks a few units per round, deterministically)
    * @param dampPct damping factor as an integer percentage (85 = the
    *                classic 0.85)
    * @return (node LONG, rank LONG) — rank is the stationary-mass share
    *         times `scale`; recover a probability as rank/scale.
    *
    * Recurrence (all integer ops, `/` = truncating division on nonneg):
    * {{{
    *   base    = scale / N
    *   share_e = rank(src_e) / outdeg(src_e)
    *   dm      = sum of rank over outdeg-0 nodes       (dangling mass)
    *   rank'   = ((100-d)*base + d*(sum_in share + dm/N)) / 100
    * }}}
    */
  def pageRank(edges: DataFrame, iters: Int = 8,
      scale: Long = 1000000000000L, dampPct: Int = 85): DataFrame =
    prCore(edges, None, None, iters, scale, dampPct)

  /** Weighted PageRank: out-mass splits proportionally to integer edge
    * weights instead of uniformly — the host-graph ranker as actually
    * run (link multiplicity / interaction counts as weights). Parallel
    * (src, dst) rows SUM their weights; `share_e = rank·w_e / W(src)`
    * with W = total out-weight (truncating division, exact). All-ones
    * weights reproduce [[pageRank]] bit for bit, since rank·1/W is the
    * uniform split.
    *
    * @param weightCol positive integer weight column; rows with
    *                  weight <= 0 or null are dropped
    */
  def pageRankWeighted(edges: DataFrame, weightCol: String, iters: Int = 8,
      scale: Long = 1000000000000L, dampPct: Int = 85): DataFrame =
    prCore(edges, Some(weightCol), None, iters, scale, dampPct)

  /** Personalized PageRank (random walk with restart): identical
    * recurrence except the teleport mass — both the (100-d) restart and
    * the dangling redistribution — lands uniformly on the SEED set
    * instead of all nodes. The curation use: rank items/hosts by
    * random-walk proximity to a trusted or topical seed set ("related
    * items", "hosts reachable from curated domains"). Uniform
    * [[pageRank]] is exactly this with seeds = all nodes.
    *
    * @param seeds relation whose FIRST column holds seed node ids; ids
    *              absent from the graph are ignored (a seed with no
    *              edges anywhere contributes nothing reachable)
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 8,
      scale: Long = 1000000000000L, dampPct: Int = 85): DataFrame =
    prCore(edges, None, Some(seeds), iters, scale, dampPct)

  /** the full combination: weighted shares AND seeded teleport — rank by
    * random-walk-with-restart proximity where hop probability follows
    * edge multiplicity (the "related to these items, weighted by how
    * often people actually co-interact" ranker). Same loop, same
    * envelopes as the two specializations.
    */
  def personalizedPageRankWeighted(edges: DataFrame, weightCol: String,
      seeds: DataFrame, iters: Int = 8,
      scale: Long = 1000000000000L, dampPct: Int = 85): DataFrame =
    prCore(edges, Some(weightCol), Some(seeds), iters, scale, dampPct)

  private def prCore(edges: DataFrame, weightColOpt: Option[String],
      seedsOpt: Option[DataFrame], iters: Int,
      scale: Long, dampPct: Int): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct $dampPct out of [0,100]")
    // overflow envelope: d*(incoming + dm/|S|) <= 100 * 2*scale must fit a long
    require(scale >= 1000 && scale <= 1000000000000000L,
      s"scale $scale out of [1e3, 1e15]")
    val spark = edges.sparkSession

    val e = CacheScope.cache(weightColOpt match {
      case None => edges
        .select(col("src").cast(LongType), col("dst").cast(LongType))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct()
        .select(col("src"), col("dst"), lit(1L).as("w"))
      case Some(wc) => edges
        .select(col("src").cast(LongType), col("dst").cast(LongType),
          col(wc).cast(LongType).as("w"))
        .where(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    })
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    // out-WEIGHT per node (plain out-degree when unweighted)
    val deg = e.groupBy(col("src").as("id")).agg(sum(col("w")).as("outdeg"))
    val seedFlag = seedsOpt match {
      case None => nodes.select(col("id"), lit(true).as("seed"))
      case Some(sd) =>
        val s0 = sd.select(sd.columns.head)
        val sids = s0.select(col(s0.columns.head).cast(LongType).as("id"))
          .where(col(s0.columns.head).isNotNull).distinct()
        nodes.join(sids.withColumn("seed", lit(true)), Seq("id"), "left")
          .select(col("id"), coalesce(col("seed"), lit(false)).as("seed"))
    }
    val nodeDeg = seedFlag.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg"), col("seed"))

    val degPairs: RDD[(Long, (Long, Boolean))] = nodeDeg.rdd
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2))))
    val counts = degPairs.map { case (_, (_, s)) => (1L, if (s) 1L else 0L) }
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    val (n, nSeeds) = counts
    require(n > 0, "pageRank over an empty edge relation")
    require(nSeeds > 0, "personalizedPageRank: no seed id appears in the graph")
    // per-edge share is rank*w/W: pin the overflow envelope to the data
    val maxW = if (weightColOpt.isEmpty) 1L
               else e.agg(max(col("w"))).head().getLong(0)
    require(maxW <= Long.MaxValue / (2 * scale + 1),
      s"max edge weight $maxW overflows the rank*weight envelope at scale $scale")

    val base = scale / nSeeds // teleport mass per seed node
    val damp = dampPct.toLong
    // state per node: (rank, (out-weight W, seed)); every edge source has
    // W >= w >= 1, so the share division never sees 0
    val ranks = GraphLoop.run(spark, degPairs,
        e.rdd.map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))),
        GraphLoop.partitioner(spark, n), "pagerank")(
        new GraphLoop.Program[(Long, Boolean), (Long, (Long, Boolean))] {
      def apply(o: GraphLoop.Ops[(Long, Boolean)]): o.N[(Long, (Long, Boolean))] =
        o.fixed(iters, o.map(o.nodes)((_, a) => (if (a._2) base else 0L, a))) { st =>
          val dm = o.sum(st) { case (rank, (ow, _)) => if (ow == 0L) rank else 0L }
          val incoming = o.send(o.edges, st, Sum) { case ((rank, (ow, _)), w) => rank * w / ow }
          o.update(o.nodes, incoming, Sum, Some(dm)) { case (a @ (_, seed), inc, dmv) =>
            val teleport = if (seed) (100L - damp) * base + damp * (dmv / nSeeds) else 0L
            ((teleport + damp * inc) / 100L, a)
          }
        }
    }).values
    e.unpersist(blocking = false)

    spark.createDataFrame(
      ranks.map { case (id, (r, _)) => Row(id, r) },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("rank", LongType, nullable = false))))
  }

  /** Exact fixed-point HITS (Kleinberg hubs-and-authorities) over a
    * directed edge list: authorities collect from hubs, hubs from the
    * UPDATED authorities, both L1-normalised to `scale` each round
    * (the one place 64 bits can't hold the multiply, so the normalising
    * `raw * scale / total` runs through BigInt per NODE — never per edge;
    * the oracle replays it as HUGEINT).
    *
    * @return (node LONG, hub LONG, auth LONG), each column summing to
    *         ~`scale` (minus deterministic truncation)
    */
  def hits(edges: DataFrame, iters: Int = 8, scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    require(scale >= 1000 && scale <= 1000000000000L, s"scale $scale out of [1e3, 1e12]")
    val spark = edges.sparkSession

    val e = CacheScope.cache(edges
      .select(col("src").cast(LongType), col("dst").cast(LongType))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val nodePairs: RDD[(Long, Unit)] = nodes.rdd.map(r => (r.getLong(0), ()))
    val n = nodePairs.count()
    require(n > 0, "hits over an empty edge relation")
    // overflow envelope: round 1 starts UN-normalised (every hub = scale),
    // so a raw sum can reach |E|*scale — and after normalisation every
    // later round is bounded by the same product. Refuse loudly instead
    // of wrapping (the oracle's HUGEINT sums would silently diverge).
    val nEdges = e.count()
    require(nEdges <= Long.MaxValue / scale,
      s"hits: $nEdges edges at scale $scale overflows the raw-sum envelope; lower scale")
    val sc = BigInt(scale)
    // state per node: (hub, auth). Authorities collect from hubs, then
    // hubs from the UPDATED authorities; each raw sum is L1-normalised
    // against its replicated total
    val ha = GraphLoop.run(spark, nodePairs,
        e.rdd.map(r => (r.getLong(0), (r.getLong(1), 1L))),
        GraphLoop.partitioner(spark, n), "hits")(new GraphLoop.Program[Unit, (Long, Long)] {
      def norm(raw: Long, total: Long): Long =
        if (total == 0L) 0L else (BigInt(raw) * sc / total).toLong
      def apply(o: GraphLoop.Ops[Unit]): o.N[(Long, Long)] =
        o.fixed(iters, o.map(o.nodes)((_, _) => (scale, scale))) { st =>
          val rawAuth = o.send(o.edges, st, Sum)((h, _) => h._1)
          val auth = o.update(o.nodes, rawAuth, Sum, Some(o.sum(rawAuth)(identity))) {
            (_, r, total) => norm(r, total) }
          val rawHub = o.send(o.reversed, auth, Sum)((a, _) => a)
          o.update(auth, rawHub, Sum, Some(o.sum(rawHub)(identity))) {
            (a, r, total) => (norm(r, total), a) }
        }
    }).values
    e.unpersist(blocking = false)

    spark.createDataFrame(ha.map { case (id, (h, a)) => Row(id, h, a) },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("hub", LongType, nullable = false),
        StructField("auth", LongType, nullable = false))))
  }
}
