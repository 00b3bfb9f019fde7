package graft

import graft.operators.GraphRank
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the graph-rank operators beyond the DuckDB oracle
  * (which already pins exact values): rank-mass bounds, ordering
  * contracts, and PMI sign/symmetry laws on the fixture data.
  */
class GraphRankSpec extends AnyFunSuite with SparkFixture {

  test("pagerank emits TopOut rows ranked 1..N by (rank desc, item asc)") {
    val out = GraphRank.itemPagerank(spark, sfTest).collect()
    assert(out.length == GraphRank.TopOut)
    assert(out.map(_.getInt(0)).toSeq == (1 to GraphRank.TopOut))
    val ranks = out.map(_.getLong(2))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
  }

  test("pagerank mass stays bounded: every rank positive, total below TotalUnits") {
    // fixed-point floor-division only ever loses mass, never creates it
    val out = GraphRank.itemPagerank(spark, sfTest).collect()
    assert(out.forall(_.getLong(2) > 0))
    assert(out.map(_.getLong(2)).sum < GraphRank.TotalUnits)
  }

  test("pagerank above the broadcast node ceiling returns identical ranks") {
    // ceiling 0 forces every node-sized table through the shuffled-join
    // branch; integer fixed-point arithmetic makes the two physical
    // strategies bit-identical
    val a = GraphRank.itemPagerank(spark, sfTest).collect().map(_.toSeq).toSeq
    val b = GraphRank.itemPagerank(spark, sfTest, bcastCeiling = 0L)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("bfs above the broadcast node ceiling returns the identical hop histogram") {
    val a = GraphRank.itemBfs(spark, sfTest).collect().map(_.toSeq).toSeq
    val b = GraphRank.itemBfs(spark, sfTest, bcastCeiling = 0L).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("pagerank is partitioning-invariant (integer fixed-point determinism)") {
    val a = GraphRank.itemPagerank(spark, sfTest).collect().map(_.toSeq).toSeq
    val repart = spark.newSession()
    repart.conf.set("spark.sql.shuffle.partitions", "7")
    val b = GraphRank.itemPagerank(repart, sfTest).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("simrank: ranked output, scores bounded by the decay factor, partitioning-invariant") {
    val out = GraphRank.simrank(spark, sfTest).collect()
    assert(out.length === GraphRank.SimrankTop)
    assert(out.map(_.getInt(0)).toSeq == (1 to GraphRank.SimrankTop))
    val units = out.map(_.getAs[Long]("sr_units"))
    assert(units.zip(units.tail).forall { case (a, b) => a >= b })
    // s2 = C * (bounded-by-1 average) => never exceeds C = 4/5
    val cap = GraphRank.SimrankCNum * GraphRank.TotalUnits / GraphRank.SimrankCDen
    assert(units.forall(u => u > 0L && u <= cap))
    out.foreach(r => assert(r.getAs[Long]("item_i") < r.getAs[Long]("item_j")))
    // integer fixed-point: exact same result at a different parallelism
    val repart = spark.newSession()
    repart.conf.set("spark.sql.shuffle.partitions", "7")
    val b = GraphRank.simrank(repart, sfTest).collect().map(_.toSeq).toSeq
    assert(b === out.map(_.toSeq).toSeq)
  }

  test("triangle counting agrees with a hand-checked literal graph") {
    import spark.implicits._
    // K4 on {1,2,3,4} minus edge (3,4): triangles (1,2,3) and (1,2,4).
    // corner counts: 1->2, 2->2, 3->1, 4->1
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("a", "b")
    val wedges = e.select($"a", $"b".as("m"))
      .join(e.select($"a".as("m"), $"b".as("c")), "m")
    val tris = wedges.join(e.select($"a", $"b".as("c")), Seq("a", "c"), "left_semi")
    assert(tris.count() === 2)
    val corners = tris.select(explode(array($"a", $"m", $"c")).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(corners === Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("triangle query output is consistent: membership sums to 3x total") {
    val out = GraphRank.triangleCount(spark, sfTest).collect()
    assert(out.nonEmpty)
    val total = out.head.getAs[Long]("total_triangles")
    assert(total > 0)
    out.foreach { r =>
      assert(r.getAs[Long]("n_triangles") <= total,
        "no item can belong to more triangles than exist")
    }
  }

  test("jaccard is bounded by co/max(ni,nj) and pairs are canonical") {
    val out = GraphRank.cooccurJaccard(spark, sfTest).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0)
      assert(r.getAs[Long]("item_i") < r.getAs[Long]("item_j"))
      assert(r.getAs[Long]("co") >= GraphRank.MinCo)
    }
    val js = out.map(_.getAs[Double]("jaccard"))
    assert(js.zip(js.tail).forall { case (a, b) => a >= b })
  }

  test("pmi support floor and ranking contract hold") {
    val out = GraphRank.pairPmi(spark, sfTest).collect()
    assert(out.length == GraphRank.PmiTop)
    assert(out.forall(_.getLong(3) >= GraphRank.MinCo))
    val pmis = out.map(_.getDouble(4))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
    // pairs are emitted in the canonical i<j half-space
    assert(out.forall(r => r.getLong(1) < r.getLong(2)))
  }

  test("bfs: hop 0 is the single source, counts cover the graph") {
    import org.apache.spark.sql.functions._
    val r = operators.GraphRank.itemBfs(spark, sfTest).collect()
    val byHop = r.map(x => x.getAs[Long]("d") -> x.getAs[Long]("n_items")).toMap
    assert(byHop(0L) === 1L)
    assert(byHop.keys.forall(d => d >= -1 && d <= operators.GraphRank.BfsMaxHops))
    // reachable + unreachable = all nodes of the sparsified graph
    val total = r.map(_.getAs[Long]("n_items")).sum
    assert(total > 0)
  }

  test("label propagation: communities partition the node set, labels are node ids, deterministic") {
    val out = operators.GraphRank.itemCommunities(spark, sfTest).collect()
    assert(out.nonEmpty && out.length <= operators.GraphRank.LpaTop)
    // ranked by (size desc, label asc)
    val sizes = out.map(_.getAs[Long]("n_items"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b })
    assert(out.map(_.getAs[Int]("rk")).toSeq === (1 to out.length))
    // node-id ranges are sane and labels come from the id space
    out.foreach { r =>
      assert(r.getAs[Long]("min_item") <= r.getAs[Long]("max_item"))
      assert(r.getAs[Long]("n_items") >= 1L)
    }
    // the fixture graph has few communities, so the rollup is complete:
    // sizes must sum to |V| of the sparsified graph
    val nV = operators.GraphRank.sparsifiedNodeCount(spark, sfTest)
    if (out.length < operators.GraphRank.LpaTop)
      assert(sizes.sum === nV, "community sizes must partition the vertex set")
    // synchronous rounds + min-label ties: a second run is bit-identical
    val again = operators.GraphRank.itemCommunities(spark, sfTest).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("salsa: fixed-point walk matches an exact local recomputation") {
    import org.apache.spark.sql.functions._
    val total = operators.GraphRank.TotalUnits
    val edges = operators.Recsys.transitionEdges(spark, sfTest)
      .where(col("item_id") =!= col("next_item")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val inW = edges.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val h0 = total / outW.size
    def sumBy(contribs: Seq[(Long, Long)]): Map[Long, Long] =
      contribs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val a1 = sumBy(edges.map { case (s, d, w) => (d, h0 * w / outW(s)) }.toSeq)
    val h1 = sumBy(edges.map { case (s, d, w) => (s, a1(d) * w / inW(d)) }.toSeq)
    val a2 = sumBy(edges.map { case (s, d, w) => (d, h1(s) * w / outW(s)) }.toSeq)
    val want = a2.toSeq.sortBy { case (id, a) => (-a, id) }
      .take(operators.GraphRank.SalsaTop)
    val got = operators.GraphRank.salsa(spark, sfTest).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (r, (id, a)) =>
      assert(r.getAs[Long]("item_id") == id && r.getAs[Long]("auth_units") == a,
        s"rank ${r.getAs[Int]("rk")}: got (${r.getAs[Long]("item_id")}, " +
        s"${r.getAs[Long]("auth_units")}), want ($id, $a)")
      assert(r.getAs[Long]("hub_units") == h1.getOrElse(id, 0L))
    }
    // stochastic contributions conserve mass up to floor loss
    assert(a1.values.sum <= total && a2.values.sum <= total)
    assert(a1.values.sum > total * 9 / 10, "floor loss must stay small")
  }

  test("hits: renormalized fixed-point matches an exact local recomputation") {
    val scale = operators.GraphRank.HitsScale
    // replay the MaxHistory cap locally to get the exact bipartite edges
    val inter = Tables.interactions(spark, sfTest).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val edges: Seq[(Long, Long)] = inter.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      rows.sortBy { case (_, i, s) => (-s, i) }
        .take(operators.Recsys.MaxHistory).map { case (_, i, _) => (u, i) }
    }
    def renorm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.view.mapValues(v => v * scale / mx).toMap
    }
    var hub = edges.map(_._1).distinct.map(_ -> scale).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to operators.GraphRank.HitsRounds) {
      auth = renorm(edges.groupBy(_._2).view.mapValues(_.map(e => hub(e._1)).sum).toMap)
      hub = renorm(edges.groupBy(_._1).view.mapValues(_.map(e => auth(e._2)).sum).toMap)
    }
    val want = auth.toSeq.sortBy { case (id, a) => (-a, id) }
      .take(operators.GraphRank.HitsTop)
    val got = operators.GraphRank.hits(spark, sfTest).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (r, (id, a)) =>
      assert(r.getAs[Long]("item_id") == id && r.getAs[Long]("auth_units") == a,
        s"rank ${r.getAs[Int]("rk")}: got (${r.getAs[Long]("item_id")}, " +
          s"${r.getAs[Long]("auth_units")}), want ($id, $a)")
    }
    // renorm pins the max at exactly HitsScale every half-step
    assert(got.head.getAs[Long]("auth_units") == scale)
  }

  test("hits shuffled-join branch (forced ceiling 0) is bit-identical to the broadcast branch") {
    val bcast = operators.GraphRank.hits(spark, sfTest).collect()
    val shuffled = operators.GraphRank.hits(spark, sfTest, 0L).collect()
    assert(bcast.map(_.toSeq).toSeq == shuffled.map(_.toSeq).toSeq,
      "integer fixed-point recurrence must not depend on the join strategy")
  }

  test("kcore: fixed rounds reach the fixpoint on the fixture (one more round is a no-op)") {
    import org.apache.spark.sql.functions.col
    val half = operators.GraphRank.halfEdges(spark, sfTest)
    val m = half.select(col("item_i").as("a"), col("item_j").as("b"))
      .unionByName(half.select(col("item_j").as("a"), col("item_i").as("b")))
    def run(rounds: Int) =
      operators.GraphRank.kcoreOf(m, operators.GraphRank.KcoreK, rounds, fitsBroadcast = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val atRounds = run(operators.GraphRank.KcoreRounds)
    assert(atRounds.nonEmpty, "fixture 3-core must not be empty")
    assert(run(operators.GraphRank.KcoreRounds + 1) == atRounds,
      "declared rounds must already be the peel fixpoint on the fixture")
    // core invariant: every surviving node keeps >= k surviving neighbors
    assert(atRounds.forall(_._2 >= operators.GraphRank.KcoreK))
  }

  test("kcore peels a planted tail but keeps the clique, fixpoint stable") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + a pendant chain 4-5-6: the 3-core is exactly
    // the clique (each member keeps 3 neighbors); the chain peels off
    val halfEdges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val m = halfEdges.toDF("a", "b")
      .unionByName(halfEdges.map(_.swap).toDF("a", "b"))
    val out = operators.GraphRank.kcoreOf(m, k = 3, rounds = 4, fitsBroadcast = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // one more round changes nothing — the peel is at its fixpoint
    val more = operators.GraphRank.kcoreOf(m, k = 3, rounds = 5, fitsBroadcast = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(more.toSeq == out.toSeq)
    // and the shuffled branch agrees
    val shuffled = operators.GraphRank.kcoreOf(m, k = 3, rounds = 4, fitsBroadcast = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(shuffled.toSeq == out.toSeq)
  }

  test("salsa shuffled-join branch (forced ceiling 0) is bit-identical to the broadcast branch") {
    val bcast = operators.GraphRank.salsa(spark, sfTest).collect()
    val shuffled = operators.GraphRank.salsa(spark, sfTest, 0L).collect()
    assert(bcast.map(_.toSeq).toSeq == shuffled.map(_.toSeq).toSeq,
      "integer fixed-point walk must not depend on the join strategy")
  }

  test("assortativity: matches the exact local Pearson over mirrored endpoint degrees") {
    import org.apache.spark.sql.functions._
    val half = operators.GraphRank.halfEdges(spark, sfTest)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val m = half ++ half.map(_.swap)
    val deg = m.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xs = m.map { case (a, _) => deg(a).toDouble }
    val ys = m.map { case (_, b) => deg(b).toDouble }
    val n = xs.length
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val r = cov / math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum *
                            ys.map(y => (y - my) * (y - my)).sum)
    val row = operators.GraphRank.assortativity(spark, sfTest).collect().head
    assert(row.getAs[Long]("n_edges") == half.length)
    assert(row.getAs[Long]("n_nodes") == deg.size)
    val got = row.getAs[Double]("assortativity")
    assert(got >= -1.0 && got <= 1.0)
    assert(math.abs(got - math.rint(r * 1e4) / 1e4) < 1e-3,
      s"assortativity $got vs local $r")
  }

  test("shortest paths matches a local bellman-ford replay; seed at distance zero") {
    val half = GraphRank.halfEdges(spark, sfTest)
      .select("item_i", "item_j", "co")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = half.flatMap { case (i, j, w) => Seq((i, j, w), (j, i, w)) }
    val ow = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val seed = ow.toSeq.minBy { case (s, w) => (-w, s) }._1
    var dist = Map(seed -> 0L)
    for (_ <- 1 to GraphRank.SpRounds) {
      val relaxed = edges.flatMap { case (s, t, w) =>
        dist.get(s).map(d => t -> (d + GraphRank.SpCostUnit / w)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .view.mapValues(_.map(_._2).min).toMap
    }
    val expected = dist.toSeq.sortBy { case (v, d) => (d, v) }.take(GraphRank.SpTop)
    val got = GraphRank.shortestPaths(spark, sfTest).collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("path_cost_units")))
    assert(got.toSeq == expected, "min-plus replay mismatch")
    assert(got.head == (seed, 0L), "the seed must sit at distance zero")
    assert(got.tail.forall(_._2 > 0))
  }

  test("rwr proximity matches a local integer fixed-point replay; seed leads") {
    val half = GraphRank.halfEdges(spark, sfTest)
      .select("item_i", "item_j", "co")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = half.flatMap { case (i, j, w) => Seq((i, j, w), (j, i, w)) }
    val ow = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val seed = ow.toSeq.minBy { case (s, w) => (-w, s) }._1
    val nodes = ow.keySet
    val U = GraphRank.TotalUnits; val d = GraphRank.DampPct
    var rank = nodes.map(v => v -> (if (v == seed) U else 0L)).toMap
    for (_ <- 1 to GraphRank.Rounds) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s, t, w) <- edges) contrib(t) += rank(s) * w / ow(s)
      rank = nodes.map { v =>
        v -> (((if (v == seed) (100 - d) * U else 0L) + d * contrib(v)) / 100)
      }.toMap
    }
    val expected = rank.toSeq.sortBy { case (v, r) => (-r, v) }
      .take(GraphRank.RwrTop)
    val got = GraphRank.rwrProximity(spark, sfTest).collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("rank_units")))
    assert(got.toSeq == expected, "fixed-point replay mismatch")
    val head = GraphRank.rwrProximity(spark, sfTest).head
    assert(head.getAs[Long]("item_id") == seed && head.getAs[Int]("is_seed") == 1,
      "the restart seed must hold rank 1")
  }

  test("local clustering: cc and transitivity match an exact local recompute") {
    val e = GraphRank.halfEdges(spark, sfTest)
      .where(col("co") >= GraphRank.TriMinCo).select("item_i", "item_j")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (e.map(p => p._1 -> p._2) ++ e.map(p => p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val edgeSet = e.toSet
    def tri(i: Long): Long = {
      val ns = adj(i).toSeq
      ns.combinations(2).count { case Seq(x, y) =>
        edgeSet.contains((math.min(x, y), math.max(x, y)))
      }.toLong
    }
    // keysIterator, not keys: .map over a key SET would collapse
    // duplicate per-node triangle counts before the sum
    val tTotal = adj.keysIterator.map(tri).sum / 3
    val wTotal = deg.values.map(d => d * (d - 1) / 2).sum
    val transitivity = BigDecimal(3.0 * tTotal / wTotal)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = GraphRank.localClustering(spark, sfTest).collect()
    assert(out.nonEmpty && out.length <= GraphRank.LccTop)
    out.foreach { r =>
      val i = r.getAs[Long]("item_id")
      assert(r.getAs[Long]("deg") === deg(i))
      assert(r.getAs[Long]("n_triangles") === tri(i))
      assert(r.getAs[Long]("cc_units") ===
        2 * tri(i) * 1000000L / (deg(i) * (deg(i) - 1)))
      assert(math.abs(r.getAs[Double]("transitivity") - transitivity) < 2e-6,
        s"local transitivity=$transitivity engine=${r.getAs[Double]("transitivity")} " +
          s"T=$tTotal W=$wTotal")
    }
    // emitted head really is the cc-ordered top of the eligible set
    val expectedHead = deg.toSeq.filter(_._2 >= 2)
      .map { case (i, d) => (2 * tri(i) * 1000000L / (d * (d - 1)), d, i) }
      .sortBy { case (cc, d, i) => (-cc, -d, i) }.take(out.length)
      .map(_._3)
    assert(out.map(_.getAs[Long]("item_id")).toSeq === expectedHead)
  }

  test("link predict: AA units match a local recompute; no emitted pair is an edge") {
    val e = GraphRank.halfEdges(spark, sfTest)
      .where(col("co") >= GraphRank.TriMinCo).select("item_i", "item_j")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (e.map(p => p._1 -> p._2) ++ e.map(p => p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val edgeSet = e.toSet
    val aa = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    for ((mid, ns) <- adj; d = ns.size.toLong
         if d >= 2 && d <= GraphRank.AaMidDegCap) {
      val u = math.round(1000000.0 / math.log(d.toDouble))
      for (Seq(x, y) <- ns.toSeq.sorted.combinations(2)) {
        val prev = aa.getOrElse((x, y), (0L, 0L))
        aa((x, y)) = (prev._1 + 1, prev._2 + u)
      }
    }
    val expected = aa.toSeq.filterNot { case (p, _) => edgeSet.contains(p) }
      .sortBy { case ((x, y), (_, units)) => (-units, x, y) }
      .take(GraphRank.AaTop)
    val out = GraphRank.linkPredict(spark, sfTest).collect()
    assert(out.length === expected.length)
    out.zip(expected).foreach { case (r, ((x, y), (cn, units))) =>
      assert((r.getAs[Long]("item_i"), r.getAs[Long]("item_j")) === ((x, y)))
      assert(r.getAs[Long]("common_neighbors") === cn)
      assert(r.getAs[Long]("aa_units") === units)
      assert(!edgeSet.contains((r.getAs[Long]("item_i"), r.getAs[Long]("item_j"))))
    }
  }

  test("link predict: the middle-degree cap drops super-hub middles") {
    import spark.implicits._
    // hub 1000 connects to 300 spokes (degree 300 > cap); spokes 1 and 2
    // also share the low-degree middle 2000 (degree 2)
    val hub = (1L to 300L).map(i => (i, 1000L))
    val low = Seq((1L, 2000L), (2L, 2000L))
    val out = GraphRank.linkPredictOf((hub ++ low).toDF("item_i", "item_j"))
      .collect()
    // every spoke pair's ONLY common neighbor is the hub -> absent.
    // Survivors: (1,2) via middle 2000, and (1000,2000) via the two
    // degree-2 middles 1 and 2.
    val got = out.map(r => (r.getAs[Long]("item_i"), r.getAs[Long]("item_j"))).toSet
    assert(got === Set((1L, 2L), (1000L, 2000L)),
      "hub-only pairs must vanish; only the low-degree-middle pairs survive")
    val u2 = math.round(1000000.0 / math.log(2.0))
    val byPair = out.map(r => (r.getAs[Long]("item_i"), r.getAs[Long]("item_j")) ->
      (r.getAs[Long]("common_neighbors"), r.getAs[Long]("aa_units"))).toMap
    assert(byPair((1L, 2L)) === ((1L, u2)))
    assert(byPair((1000L, 2000L)) === ((2L, 2 * u2)))
  }

  test("modularity: Q and per-community moments match a local recompute") {
    val edges = GraphRank.copurchaseEw(spark, sfTest)
      .select("src", "dst", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lbl = GraphRank.lpaLabels(spark, sfTest)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = edges.map(_._3).sum
    val internal = edges.filter { case (s, d, _) => lbl(s) == lbl(d) }
      .groupBy { case (s, _, _) => lbl(s) }.view.mapValues(_.map(_._3).sum).toMap
    val strength = edges.groupBy { case (s, _, _) => lbl(s) }
      .view.mapValues(_.map(_._3).sum).toMap
    val q = internal.values.sum.toDouble / m2 -
      (strength.values.map(d => d.toDouble * d).sum / m2) / m2
    val sizes = lbl.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val out = GraphRank.modularity(spark, sfTest).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val c = r.getAs[Long]("community_id")
      assert(r.getAs[Long]("n_items") === sizes(c))
      assert(r.getAs[Long]("internal_w") === internal.getOrElse(c, 0L))
      assert(r.getAs[Long]("degree_w") === strength(c))
      val contrib = internal.getOrElse(c, 0L).toDouble / m2 -
        (strength(c).toDouble / m2) * (strength(c).toDouble / m2)
      assert(math.abs(r.getAs[Double]("contrib") - contrib) < 2e-6)
      assert(math.abs(r.getAs[Double]("q_modularity") - q) < 2e-6)
    }
    // partition labels and community rollup agree with q_item_communities
    val comm = GraphRank.itemCommunities(spark, sfTest).collect()
      .map(r => r.getAs[Long]("community_id") -> r.getAs[Long]("n_items")).toMap
    out.foreach { r =>
      val c = r.getAs[Long]("community_id")
      if (comm.contains(c)) assert(comm(c) === r.getAs[Long]("n_items"))
    }
  }

  test("katz: fixed-point attenuated path counts match an exact local replay") {
    val half = GraphRank.halfEdges(spark, sfTest)
      .select("item_i", "item_j", "co")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 >= GraphRank.EdgeMinCo)
    val edges = half.flatMap { case (i, j, _) => Seq((i, j), (j, i)) }
    val nodes = edges.map(_._1).toSet
    val aN = GraphRank.KatzAlphaNum; val aD = GraphRank.KatzAlphaDen
    val unit = GraphRank.KatzUnit
    var c = nodes.map(v => v -> 0L).toMap
    for (_ <- 1 to GraphRank.KatzRounds) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s0, t) <- edges) contrib(t) += aN * (unit + c(s0)) / aD
      c = nodes.map(v => v -> contrib(v)).toMap
    }
    val expected = c.toSeq.sortBy { case (v, k) => (-k, v) }.take(GraphRank.KatzTop)
    val got = GraphRank.katz(spark, sfTest).collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("katz_units")))
    assert(got.toSeq == expected, "katz integer replay mismatch")
    // a path-counting index must rank some multi-hop-reachable hub
    // strictly above an EdgeMinCo-degree-1 leaf: top katz exceeds the
    // single-in-edge value alpha*unit*K
    assert(expected.head._2 > aN * unit / aD * GraphRank.KatzRounds)
  }

  test("closeness: landmark harmonic centrality matches an exact local BFS replay") {
    val half = GraphRank.halfEdges(spark, sfTest)
      .select("item_i", "item_j", "co").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 >= GraphRank.EdgeMinCo)
    val adj = half.flatMap { case (i, j, _) => Seq((i, j), (j, i)) }
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    // landmark selection: top-L by mirrored degree, id tie-break
    val landmarks = adj.toSeq.map { case (v, ns) => (v, ns.size) }
      .sortBy { case (v, d) => (-d, v) }.take(GraphRank.NLandmarks).map(_._1)
    val hu = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val reached = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (l <- landmarks) {
      val distm = scala.collection.mutable.Map(l -> 0)
      var frontier = Set(l)
      for (d <- 1 to GraphRank.CloseHops) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty[Long]))
          .filterNot(distm.contains)
        frontier.foreach(v => distm(v) = d)
      }
      for ((v, d) <- distm if d >= 1) {
        hu(v) += GraphRank.HarmonicLcm / d; reached(v) += 1
      }
    }
    val expected = hu.toSeq.sortBy { case (v, h) => (-h, v) }
      .take(GraphRank.CloseTop)
      .map { case (v, h) => (v, reached(v), h) }
    val got = GraphRank.closeness(spark, sfTest).collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("reached"),
                 r.getAs[Long]("harmonic_units")))
    assert(got.toSeq == expected, "closeness integer replay mismatch")
    // a landmark's direct neighbor must appear with the full 12-unit
    // contribution from at least that landmark
    assert(expected.head._3 >= GraphRank.HarmonicLcm)
  }

  test("closeness shuffled-frontier branch (forced ceiling 0) is bit-identical to the broadcast branch") {
    val a = GraphRank.closeness(spark, sfTest).collect().map(_.toSeq).toSeq
    val b = GraphRank.closeness(spark, sfTest, 0L).collect().map(_.toSeq).toSeq
    assert(a == b, "hop-exact BFS must not depend on the frontier join strategy")
  }

  test("katz shuffled-join branch (forced ceiling 0) is bit-identical to the broadcast branch") {
    val bcast = GraphRank.katz(spark, sfTest).collect()
    val shuffled = GraphRank.katz(spark, sfTest, 0L).collect()
    assert(bcast.map(_.toSeq).toSeq == shuffled.map(_.toSeq).toSeq,
      "integer fixed-point recurrence must not depend on the join strategy")
  }

  test("ktruss: peel curve matches a local replay and the declared rounds reach the fixpoint") {
    val half = GraphRank.halfEdges(spark, sfTest)
      .select("item_i", "item_j", "co").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 >= GraphRank.TriMinCo)
    var edges = half.map(e => (e._1, e._2)).toSet // a < b half-edges
    def trisOf(es: Set[(Long, Long)]): Seq[(Long, Long, Long)] = {
      val byA = es.groupBy(_._1)
      (for {
        (a, m) <- es.toSeq
        (_, c) <- byA.getOrElse(m, Set.empty)
        if es((a, c))
      } yield (a, m, c))
    }
    val need = GraphRank.TrussK - 2
    var curve = Vector.empty[(Long, Long)]
    for (_ <- 1 to GraphRank.TrussRounds) {
      val tris = trisOf(edges)
      curve :+= (edges.size.toLong, tris.length.toLong)
      val supp = scala.collection.mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
      for ((a, m, c) <- tris) { supp((a, m)) += 1; supp((m, c)) += 1; supp((a, c)) += 1 }
      edges = edges.filter(e => supp(e) >= need)
    }
    val finalTris = trisOf(edges)
    curve :+= (edges.size.toLong, finalTris.length.toLong)
    val got = operators.GraphRank.ktruss(spark, sfTest).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Long]("n_edges"), r.getAs[Long]("n_triangles")))
    assert(got.toSeq == curve.zipWithIndex.map { case ((e, t), r) => (r, e, t) })
    // the declared rounds are the fixpoint on the fixture: one more peel is a no-op
    val supp2 = scala.collection.mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
    for ((a, m, c) <- finalTris) { supp2((a, m)) += 1; supp2((m, c)) += 1; supp2((a, c)) += 1 }
    assert(edges.forall(e => supp2(e) >= need),
      "a surviving edge below support would mean TrussRounds is not the fixpoint")
    // truss is monotone: edge counts never increase along the curve
    assert(curve.map(_._1) == curve.map(_._1).sorted.reverse)
  }
}
