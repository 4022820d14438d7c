package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.GraphOps

/** PageRank invariants + a hand-computed fixture. The DuckDB oracle proves
  * engine parity of g_pagerank on the shared testdata; these pin the
  * algorithm's semantics: mass conservation, the teleport floor, dangling
  * redistribution, and the closed-form two-node answer.
  */
class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def edges(rows: Seq[(Int, Int, Long)]) = {
    import spark.implicits._
    rows.toDF("src", "dst", "w")
  }

  private def ranks(rows: Seq[(Int, Int, Long)], iters: Int = 5,
                    damping: Double = 0.85): Map[Int, Double] =
    GraphOps.pageRank(edges(rows), "src", "dst", "w", iters, damping)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  private def communities(rows: Seq[(Int, Int, Long)], iters: Int = 3): Map[Int, Int] =
    GraphOps.labelPropagation(edges(rows), "src", "dst", "w", iters)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap

  test("label propagation: two cliques joined by one weak edge split into two communities") {
    // cliques {1,2,3} and {10,11,12} (heavy internal edges), one light
    // bridge 3-10: LPA must converge each clique to its min label and
    // never merge across the bridge
    val es = Seq(
      (1, 2, 5L), (2, 3, 5L), (1, 3, 5L),
      (10, 11, 5L), (11, 12, 5L), (10, 12, 5L),
      (3, 10, 1L))
    val c = communities(es)
    assert(c(1) == c(2) && c(2) == c(3), s"clique A split: $c")
    assert(c(10) == c(11) && c(11) == c(12), s"clique B split: $c")
    assert(c(1) != c(10), s"bridge merged the cliques: $c")
  }

  test("label propagation: labels are node ids, every node labeled, deterministic") {
    val es = Seq((1, 2, 1L), (2, 3, 2L), (4, 5, 1L), (5, 4, 3L))
    val c1 = communities(es)
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSet
    assert(c1.keySet == nodes)
    assert(c1.values.toSet.subsetOf(nodes), s"labels outside the node set: $c1")
    // disconnected components never share a community
    assert(Set(c1(1), c1(2), c1(3)).intersect(Set(c1(4), c1(5))).isEmpty)
    assert(communities(es) == c1, "re-run diverged")
  }

  private def core(rows: Seq[(Int, Int, Long)], k: Int, rounds: Int): Map[Int, Long] =
    GraphOps.kCore(edges(rows), "src", "dst", k, rounds)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("k-core: the fringe peels layer by layer, the core survives with its degrees") {
    // triangle {1,2,3} with a pendant chain 3-10-11-12: at k=2 the chain
    // is fringe (each round exposes the next link), the triangle is core
    val es = Seq((1, 2, 1L), (2, 3, 1L), (1, 3, 1L),
      (3, 10, 1L), (10, 11, 1L), (11, 12, 1L))
    // round 1 peels only the current degree-1 node (12)
    val r1 = core(es, k = 2, rounds = 1)
    assert(!r1.contains(12) && r1.contains(11) == false,
      // 11's degree drops below 2 only AFTER 12 is gone; but the final
      // report re-filters at k, so 11 (now degree 1) is not a survivor
      s"round-1 report must already re-filter the exposed fringe: $r1")
    assert(r1.keySet == Set(1, 2, 3, 10), s"got $r1")
    // three rounds reach the true 2-core: the triangle alone, degree 2 each
    val r3 = core(es, k = 2, rounds = 3)
    assert(r3 == Map(1 -> 2L, 2 -> 2L, 3 -> 2L), s"got $r3")
    // peeling is monotone: survivors only shrink with more rounds
    assert(r3.keySet.subsetOf(r1.keySet))
  }

  test("k-core: k above the max degree empties the graph; duplicate/reversed edges canonicalize") {
    val es = Seq((1, 2, 1L), (2, 1, 5L), (2, 3, 1L), (1, 3, 1L), (3, 3, 9L))
    assert(core(es, k = 5, rounds = 2).isEmpty)
    // the triangle survives k=2 with degree 2 (dup/reversed/self edges collapse)
    assert(core(es, k = 2, rounds = 2) == Map(1 -> 2L, 2 -> 2L, 3 -> 2L))
  }

  test("hash walks: every hop follows an edge, sinks stop walks, deterministic") {
    import spark.implicits._
    // 1 -> {2, 3}; 2 -> 3; 3 is a SINK
    val es = Seq((1, 2, 1L), (1, 3, 1L), (2, 3, 1L))
    val walks = GraphOps.hashWalks(edges(es), "src", "dst", steps = 3, seed = 7L)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    val byWalk = walks.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // step 0 covers every node
    assert(byWalk.keySet == Set(1, 2, 3))
    assert(byWalk.forall { case (w, seq) => seq.head == w })
    // every consecutive hop is a real directed edge
    val edgeSet = es.map(e => (e._1, e._2)).toSet
    byWalk.values.foreach(seq => seq.sliding(2).foreach {
      case Seq(a, b) => assert(edgeSet.contains((a, b)), s"phantom hop $a->$b")
      case _ =>
    })
    // walk from the sink stops immediately; every walk ends at the sink
    assert(byWalk(3) == Seq(3))
    assert(byWalk.values.forall(_.last == 3))
    // deterministic across runs
    val again = GraphOps.hashWalks(edges(es), "src", "dst", steps = 3, seed = 7L)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(again == walks.toSet)
    // a different seed may choose differently at the branch node, but
    // structure invariants hold; same seed is pinned above — also check
    // walk 1's first hop is a function of the seed arithmetic (either
    // neighbor, but consistently one of them)
    assert(Set(2, 3).contains(byWalk(1)(1)))
  }

  test("rank mass is conserved and every node clears the teleport floor") {
    // 4 nodes, node 3 dangling (no out-edges).
    val r = ranks(Seq((0, 1, 2L), (0, 2, 1L), (1, 2, 1L), (2, 3, 1L)))
    assert(r.size == 4)
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
    val floor = (1.0 - 0.85) / 4
    r.values.foreach(v => assert(v >= floor - 1e-12))
    // 3 is the sink fed by everything through 2 -> it outranks sources.
    assert(r(3) > r(0))
  }

  test("two-node cycle converges to the uniform fixpoint") {
    // a <-> b is symmetric: pr = 0.5 each at EVERY iteration, any damping.
    val r = ranks(Seq((0, 1, 1L), (1, 0, 1L)), iters = 3)
    assert(math.abs(r(0) - 0.5) < 1e-12 && math.abs(r(1) - 0.5) < 1e-12)
  }

  test("one-iteration ranks match the hand-derived closed form") {
    // Graph: 0 -> 1 (w 3), 0 -> 2 (w 1), 1 -> 2 (w 1); 2 dangling.
    // r0 = 1/3 each; dangling mass = 1/3.
    // contrib(1) = 1/3 * 3/4; contrib(2) = 1/3 * 1/4 + 1/3.
    val d = 0.85
    val r = ranks(Seq((0, 1, 3L), (0, 2, 1L), (1, 2, 1L)), iters = 1, damping = d)
    val base = (1 - d) / 3 + d / 9 // teleport + dangling/N share
    assert(math.abs(r(0) - base) < 1e-12)
    assert(math.abs(r(1) - (base + d * (1.0 / 3 * 3 / 4))) < 1e-12)
    assert(math.abs(r(2) - (base + d * (1.0 / 3 * 1 / 4 + 1.0 / 3))) < 1e-12)
  }

  test("weights matter: the heavier edge's target outranks the lighter one") {
    val r = ranks(Seq((0, 1, 9L), (0, 2, 1L), (1, 0, 1L), (2, 0, 1L)))
    assert(r(1) > r(2))
  }

  test("personalized pagerank: mass conserved, only the seed's component holds mass") {
    import spark.implicits._
    // chain 0 -> 1 -> 2 (2 an absorbing sink) plus an isolated pair
    // 3 <-> 4; seed = {0}
    val e = edges(Seq((0, 1, 1L), (1, 2, 1L), (3, 4, 1L), (4, 3, 1L)))
    val seeds = Seq(0).toDF("node")
    val r = GraphOps.personalizedPageRank(e, "src", "dst", "w", seeds, "node",
        iters = 5, damping = 0.85)
      .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
    // teleport favors the seed over its immediate successor (the chain's
    // absorbing END legitimately accumulates the most — mass funnels
    // there and only returns via the dangling redistribution)
    assert(r(0) > r(1))
    assert(r(2) > r(1), "the absorbing sink accumulates the funneled mass")
    // the disconnected component gets NO mass: no teleport, no inflow
    assert(r(3) == 0.0 && r(4) == 0.0)
  }

  test("personalized pagerank with every node seeded equals classic pagerank") {
    import spark.implicits._
    val es = Seq((0, 1, 2L), (0, 2, 1L), (1, 2, 1L), (2, 0, 1L))
    val allNodes = Seq(0, 1, 2).toDF("node")
    val classic = ranks(es)
    val ppr = GraphOps.personalizedPageRank(edges(es), "src", "dst", "w",
        allNodes, "node", iters = 5, damping = 0.85)
      .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
    classic.foreach { case (n, v) =>
      assert(math.abs(ppr(n) - v) < 1e-12, s"node $n: $v vs ${ppr(n)}")
    }
  }

  test("g_ppr_seeded on testdata: mass conserved, seed mean outranks non-seed mean") {
    val df = SparkEntry.queries("g_ppr_seeded")(spark, SparkTestSession.sfDir)
    val rows = df.collect().map(r => r.getInt(0) -> r.getDouble(1))
    assert(rows.length == 100)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-3)
    val (seedRows, rest) = rows.partition(_._1 % 10 == 0)
    assert(seedRows.map(_._2).sum / seedRows.length >
      rest.map(_._2).sum / rest.length,
      "teleport mass must concentrate on the trust set")
  }

  test("seeded random graphs: distributed ranks equal a driver-side reference to 1e-9") {
    // plain-Scala power iteration — an INDEPENDENT implementation of the
    // same semantics (teleport + dangling-to-teleport, synchronous)
    def refRanks(edges: Seq[(Int, Int, Long)], iters: Int, d: Double): Map[Int, Double] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum.toDouble }
      val tp = 1.0 / nodes.size
      var r = nodes.map(_ -> tp).toMap
      for (_ <- 1 to iters) {
        val inflow = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map(e => r(e._1) * e._3 / outW(e._1)).sum
        }
        val dang = nodes.filterNot(outW.contains).map(r).sum
        r = nodes.map(n =>
          n -> ((1 - d) * tp + d * (inflow.getOrElse(n, 0.0) + dang * tp))).toMap
      }
      r
    }
    val rng = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 8 + trial * 2
      val es = (0 until 3 * n).map { _ =>
        (rng.nextInt(n), rng.nextInt(n), 1L + rng.nextInt(5))
      }.filter(e => e._1 != e._2).distinct
      val got = ranks(es, iters = 4)
      val want = refRanks(es, iters = 4, d = 0.85)
      assert(got.keySet == want.keySet, s"trial $trial node sets differ")
      got.foreach { case (node, v) =>
        assert(math.abs(v - want(node)) < 1e-9,
          s"trial $trial node $node: $v vs ${want(node)}")
      }
    }
  }

  test("triangle census: hand-counted fixture, duplicate/reversed/self edges normalized") {
    import spark.implicits._
    // K4 on {0,1,2,3} minus edge (2,3): triangles {0,1,2} and {0,1,3}.
    // Noise: a reversed duplicate, an exact duplicate, a self-loop, and
    // a pendant vertex 4 — none may change the census.
    val e = Seq(
      (0, 1, 1L), (1, 0, 1L), (0, 2, 1L), (0, 3, 1L), (1, 2, 1L),
      (1, 3, 1L), (1, 3, 1L), (2, 2, 1L), (3, 4, 1L))
      .toDF("src", "dst", "w")
    val r = GraphOps.triangleStats(e, "src", "dst").head
    assert(r.getLong(0) == 6L, s"n_edges ${r.getLong(0)}") // 5 K4-ish + pendant
    // degrees: 0:3 1:3 2:2 3:3 4:1 -> wedges 3+3+1+3+0 = 10
    assert(r.getLong(1) == 10L, s"n_wedges ${r.getLong(1)}")
    assert(r.getLong(2) == 2L, s"n_triangles ${r.getLong(2)}")
    assert(math.abs(r.getDouble(3) - 0.6) < 1e-9) // 3*2/10
  }

  test("triangle census: a triangle-free star has zero triangles") {
    import spark.implicits._
    val e = (1 to 5).map(i => (0, i, 1L)).toDF("src", "dst", "w")
    val r = GraphOps.triangleStats(e, "src", "dst").head
    assert(r.getLong(2) == 0L && r.getLong(1) == 10L)
  }

  test("g_components on testdata: every page labeled, roots are members, strong graph fragments") {
    val rows = SparkEntry.queries("g_components")(spark, SparkTestSession.sfDir)
      .collect().map(r => r.getInt(0) -> r.getInt(1))
    assert(rows.length == 100)
    val byComp = rows.groupBy(_._2)
    // min-label convention: every component's label is its smallest member
    byComp.foreach { case (comp, members) =>
      assert(members.map(_._1).min == comp, s"component $comp label not minimal")
    }
    // the 3x-mean cut must actually fragment the dense uniform graph
    assert(byComp.size > 1, "strong graph should not be one giant component")
  }

  test("g_pagerank on testdata: full page set, mass conserved") {
    val df = SparkEntry.queries("g_pagerank")(spark, SparkTestSession.sfDir)
    val rows = df.collect()
    assert(rows.length == 100)
    val sum = rows.map(_.getDouble(1)).sum
    assert(math.abs(sum - 1.0) < 1e-3) // pr rounded to 6dp in the query
  }

  test("loop pins: the returned plan holds the same pins at 1, 2 and 5 iterations") {
    import spark.implicits._
    val sc = spark.sparkContext
    val es = edges(Seq((1, 2, 1L), (2, 3, 2L), (3, 1, 1L), (3, 4, 1L), (4, 5, 1L)))
    val seeds = Seq(1).toDF("node")
    // pins the returned plan reads: trans + last rank state; sym + last
    // labels; the last edge set
    val loops: Seq[(String, Int, Int => org.apache.spark.sql.DataFrame)] = Seq(
      ("pageRank", 2, n => GraphOps.pageRank(es, "src", "dst", "w", n, 0.85)),
      ("personalizedPageRank", 2, n => GraphOps.personalizedPageRank(
        es, "src", "dst", "w", seeds, "node", n, 0.85)),
      ("labelPropagation", 2, n => GraphOps.labelPropagation(es, "src", "dst", "w", n)),
      ("kCore", 1, n => GraphOps.kCore(es, "src", "dst", 2, n)))
    loops.foreach { case (name, held, run) =>
      Seq(1, 2, 5).foreach { n =>
        val before = sc.getPersistentRDDs.keySet
        val out = run(n)
        if (n == 5) out.collect() // every pin the plan reads is still live
        val added = sc.getPersistentRDDs.keySet -- before
        added.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
        assert(added.size == held, s"$name at n=$n left ${added.size} pins, want $held")
      }
    }
  }
}
