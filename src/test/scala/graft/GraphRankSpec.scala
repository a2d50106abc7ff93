package graft

import graft.functions.GraphRank

class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  /** in-test replay of the EXACT integer recurrence — the operator must
    * match it bit-for-bit on any graph (same algebra the DuckDB oracle
    * unrolls)
    */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000000L, damp: Long = 85L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = scale / n
    var rank = nodes.map(_ -> base).toMap
    for (_ <- 0 until iters) {
      val dm = nodes.filter(v => !outdeg.contains(v)).map(rank).sum
      val dShare = dm / n
      val incoming = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / outdeg(s) }.sum).toMap
      rank = nodes.map(v =>
        v -> (((100L - damp) * base + damp * (incoming.getOrElse(v, 0L) + dShare)) / 100L)).toMap
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], iters: Int = 8): Map[Long, Long] =
    GraphRank.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRank matches the integer recurrence bit-for-bit (cycle + chain + dangling)") {
    // 0 -> 1 -> 2 -> 0 cycle, 3 -> 0 entry, 4 dangling sink fed by 2
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (2L, 4L))
    assert(run(edges) == refPageRank(edges, 8))
  }

  test("pageRank is deterministic across runs and partitionings") {
    val edges = (0L until 200L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 200L), (i, (i * 13 + 5) % 200L), (i, i % 10L)))
    val a = run(edges)
    val b = run(edges)
    assert(a == b)
    assert(a == refPageRank(edges, 8))
  }

  test("edge-count gate: forcing the distributed pageRank/HITS loops reproduces the local bits") {
    // the in-task backend must replay the distributed recurrence exactly —
    // force the distributed backend through the seam and compare
    // bit-for-bit. This is also the distributed loop's in-suite coverage
    // for the seeded-teleport and weighted-share paths, since test graphs
    // always size to one partition.
    // nodes 150..159 are dangling sinks: the dangling-mass scalar is live
    val edges = (0L until 150L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 150L), (i, (i * 13 + 5) % 150L), (i, 150L + i % 10)))
    val wEdges = edges.map { case (s, d) => (s, d, (s * 31 + d) % 5 + 1) }
    val seeds = Seq(3L, 40L, 77L, 149L)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def all() = {
      val e = edges.toDF("src", "dst")
      val we = wEdges.toDF("src", "dst", "w")
      val sd = seeds.toDF("id")
      val m = Map(
        "pageRank" -> ranks(GraphRank.pageRank(e, iters = 4)),
        "pageRankWeighted" -> ranks(GraphRank.pageRankWeighted(we, "w", iters = 4)),
        "personalizedPageRank" -> ranks(GraphRank.personalizedPageRank(e, sd, iters = 4)),
        "personalizedPageRankWeighted" ->
          ranks(GraphRank.personalizedPageRankWeighted(we, "w", sd, iters = 4)),
        "hits" -> GraphRank.hits(e, iters = 4).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap)
      CacheScope.release()
      m
    }
    val local = all()
    val dist = graft.functions.GraphLoop.localEdgeLimit.withValue(0L)(all())
    for (k <- local.keys)
      assert(local(k) == dist(k), s"$k: in-task/distributed backends diverged")
    assert(local("pageRank") == refPageRank(edges, 4))
    assert(local("pageRankWeighted") == refPageRankW(wEdges, 4))
    assert(local("personalizedPageRank") == refPpr(edges, seeds.toSet, 4))
    assert(local("personalizedPageRankWeighted") == refPprW(wEdges, seeds.toSet, 4))
    assert(local("hits") == refHits(edges, 4))
  }

  test("pageRank semantics: hub with many in-links outranks leaf nodes; mass ~conserved") {
    // star: 1..9 all link to 0; 0 links back to 1 (so 0 is not dangling)
    val edges = (1L to 9L).map(i => (i, 0L)) :+ ((0L, 1L))
    val r = run(edges)
    assert(r(0L) > r(2L) * 4, s"hub rank ${r(0L)} should dominate leaf ${r(2L)}")
    // fixed-point truncation only ever leaks mass downward, deterministically
    val total = r.values.sum
    assert(total <= 1000000000000L && total > 900000000000L, s"total mass $total")
  }

  test("pageRank dangling mass is redistributed, not dropped") {
    // 0 -> 1, 1 has no out-edges: without dangling redistribution node 0
    // would decay to (1-d)*base; with it, 1's mass flows back to both
    val edges = Seq((0L, 1L))
    val r = run(edges, iters = 12)
    val ref = refPageRank(edges, 12)
    assert(r == ref)
    assert(r(0L) > 250000000000L, s"dangling mass must recirculate, got ${r(0L)}")
  }

  test("parallel edges collapse: duplicated edge rows do not double-count") {
    val once = run(Seq((0L, 1L), (1L, 0L)))
    val dup  = run(Seq((0L, 1L), (0L, 1L), (1L, 0L)))
    assert(once == dup)
  }

  /** in-test replay of the WEIGHTED recurrence: per-edge rank·w/W shares */
  private def refPageRankW(edges: Seq[(Long, Long, Long)], iters: Int,
      scale: Long = 1000000000000L, damp: Long = 85L): Map[Long, Long] = {
    val e = edges.filter(_._3 > 0).groupBy(x => (x._1, x._2)).view
      .mapValues(_.map(_._3).sum).toSeq.map { case ((a, b), w) => (a, b, w) }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val outw = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val base = scale / n
    var rank = nodes.map(_ -> base).toMap
    for (_ <- 0 until iters) {
      val dm = nodes.filter(v => !outw.contains(v)).map(rank).sum
      val dShare = dm / n
      val incoming = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _, w) => rank(u) * w / outw(u) }.sum).toMap
      rank = nodes.map(v =>
        v -> (((100L - damp) * base + damp * (incoming.getOrElse(v, 0L) + dShare)) / 100L)).toMap
    }
    rank
  }

  private def runW(edges: Seq[(Long, Long, Long)], iters: Int = 8): Map[Long, Long] =
    GraphRank.pageRankWeighted(edges.toDF("src", "dst", "w"), "w", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRankWeighted matches the weighted integer recurrence bit-for-bit") {
    val edges = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 2L), (2L, 0L, 5L), (2L, 3L, 1L))
    assert(runW(edges) == refPageRankW(edges, 8))
  }

  test("pageRankWeighted: all-ones weights reproduce uniform pageRank exactly") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (2L, 4L))
    assert(runW(edges.map(e => (e._1, e._2, 1L))) == run(edges))
  }

  test("pageRankWeighted: parallel rows sum weights; heavier edge carries more mass") {
    // 0 splits 3:1 toward 1 vs 2 (two parallel rows to 1 summing to 3)
    val split = Seq((0L, 1L, 2L), (0L, 1L, 1L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
    val merged = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
    val r = runW(split)
    assert(r == runW(merged))
    assert(r(1L) > r(2L) * 2, s"3:1 split must favor node 1: $r")
  }

  /** in-test replay of the personalized recurrence: teleport + dangling
    * mass land uniformly on the seed set only
    */
  private def refPpr(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
      scale: Long = 1000000000000L, damp: Long = 85L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val s = nodes.filter(seeds).toSet
    val ns = s.size.toLong
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = scale / ns
    var rank = nodes.map(v => v -> (if (s(v)) base else 0L)).toMap
    for (_ <- 0 until iters) {
      val dm = nodes.filter(v => !outdeg.contains(v)).map(rank).sum
      val dShare = dm / ns
      val incoming = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => rank(u) / outdeg(u) }.sum).toMap
      rank = nodes.map { v =>
        val teleport = if (s(v)) (100L - damp) * base + damp * dShare else 0L
        v -> ((teleport + damp * incoming.getOrElse(v, 0L)) / 100L)
      }.toMap
    }
    rank
  }

  private def runPpr(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int = 8): Map[Long, Long] =
    GraphRank.personalizedPageRank(edges.toDF("src", "dst"), seeds.toDF("id"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("personalizedPageRank matches the seeded integer recurrence bit-for-bit") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (2L, 4L), (4L, 3L))
    assert(runPpr(edges, Seq(0L)) == refPpr(edges, Set(0L), 8))
    assert(runPpr(edges, Seq(2L, 3L)) == refPpr(edges, Set(2L, 3L), 8))
  }

  test("personalizedPageRank with seeds = all nodes equals uniform pageRank") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (2L, 4L))
    assert(runPpr(edges, 0L to 4L) == run(edges))
  }

  test("personalizedPageRank concentrates mass near the seed; unreachable nodes get zero") {
    // two disconnected cycles; seed in the first — second must stay at 0
    val edges = Seq((0L, 1L), (1L, 0L), (10L, 11L), (11L, 10L))
    val r = runPpr(edges, Seq(0L), iters = 12)
    assert(r(10L) == 0L && r(11L) == 0L)
    assert(r(0L) > r(1L) && r(0L) + r(1L) > 900000000000L)
    // seed ids absent from the graph are ignored, not invented
    val r2 = runPpr(edges, Seq(0L, 777L), iters = 12)
    assert(r2 == r && !r2.contains(777L))
  }

  /** replay of the full combination: weighted shares + seeded teleport */
  private def refPprW(edges: Seq[(Long, Long, Long)], seeds: Set[Long], iters: Int,
      scale: Long = 1000000000000L, damp: Long = 85L): Map[Long, Long] = {
    val e = edges.filter(_._3 > 0).groupBy(x => (x._1, x._2)).view
      .mapValues(_.map(_._3).sum).toSeq.map { case ((a, b), w) => (a, b, w) }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val s = nodes.filter(seeds).toSet
    val ns = s.size.toLong
    val outw = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val base = scale / ns
    var rank = nodes.map(v => v -> (if (s(v)) base else 0L)).toMap
    for (_ <- 0 until iters) {
      val dm = nodes.filter(v => !outw.contains(v)).map(rank).sum
      val dShare = dm / ns
      val incoming = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _, w) => rank(u) * w / outw(u) }.sum).toMap
      rank = nodes.map { v =>
        val teleport = if (s(v)) (100L - damp) * base + damp * dShare else 0L
        v -> ((teleport + damp * incoming.getOrElse(v, 0L)) / 100L)
      }.toMap
    }
    rank
  }

  test("personalizedPageRankWeighted: combined recurrence bit-for-bit; specializations agree") {
    val edges = Seq((0L, 1L, 3L), (1L, 2L, 1L), (2L, 0L, 5L), (3L, 0L, 2L), (2L, 4L, 1L))
    def runPW(seeds: Seq[Long]) =
      GraphRank.personalizedPageRankWeighted(edges.toDF("src", "dst", "w"), "w",
          seeds.toDF("id"), iters = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(runPW(Seq(0L, 2L)) == refPprW(edges, Set(0L, 2L), 8))
    // seeds = all nodes reduces to plain weighted PageRank
    assert(runPW(0L to 4L) == runW(edges))
    // all-ones weights reduce to plain personalized PageRank
    val ones = edges.map(e => (e._1, e._2, 1L))
    val got = GraphRank.personalizedPageRankWeighted(ones.toDF("src", "dst", "w"), "w",
        Seq(2L).toDF("id"), iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == runPpr(ones.map(e => (e._1, e._2)), Seq(2L)))
  }

  /** integer-recurrence replay for HITS (BigInt normalisation like the op) */
  private def refHits(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000L): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val total = raw.values.sum
      nodes.map(v => v -> (if (total == 0L) 0L
        else (BigInt(raw.getOrElse(v, 0L)) * scale / total).toLong)).toMap
    }
    var hub = nodes.map(_ -> scale).toMap
    var auth = hub
    for (_ <- 0 until iters) {
      auth = norm(e.groupBy(_._2).view.mapValues(_.map(x => hub(x._1)).sum).toMap)
      hub = norm(e.groupBy(_._1).view.mapValues(_.map(x => auth(x._2)).sum).toMap)
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  test("hits matches the integer recurrence and separates hubs from authorities") {
    // 0,1,2 all point at 8 and 9; directed only — classic hub/authority split
    val edges = for (h <- 0L to 2L; a <- 8L to 9L) yield (h, a)
    val got = GraphRank.hits(edges.toDF("src", "dst"), iters = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == refHits(edges, 8))
    val (hub0, auth0) = got(0L)
    val (hub8, auth8) = got(8L)
    assert(hub0 > 0L && auth0 == 0L, s"pure hub got $hub0/$auth0")
    assert(auth8 > 0L && hub8 == 0L, s"pure authority got $hub8/$auth8")
    // L1 normalisation: each score family sums to ~scale
    val hubTotal = got.values.map(_._1).sum
    assert(hubTotal <= 1000000000L && hubTotal > 999999000L, s"hub L1 $hubTotal")
  }

  test("hits is exact on an asymmetric graph (mixed hub/authority roles)") {
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 0L))
    val got = GraphRank.hits(edges.toDF("src", "dst"), iters = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == refHits(edges, 8))
  }
}
