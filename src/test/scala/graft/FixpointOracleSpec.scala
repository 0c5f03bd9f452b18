package graft

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.kg.canon.ConnectedComponents
import graft.kg.graph.GraphOps
import graft.kg.query.Ontology

/** The six [[Fixpoint]] operators against plain-Scala references on small
  * generated graphs: connected components vs union-find (string and long
  * ids), k-core and k-truss vs an iterative peel, weighted shortest paths
  * vs Dijkstra over `1e6 div w` costs, converged label propagation vs
  * synchronous rounds (min-label ties, the 2-cycle rule), and the taxonomy
  * closure vs depth-first search. The fixed-round graph kernels run on the
  * same graphs: the three PageRank entries (one rank loop) vs integer
  * rounds over co-mention weights, BFS vs frontier rounds, and hop-bounded
  * shortest paths (the relaxation step weighted shortest paths shares) vs
  * synchronous Bellman–Ford rounds. The graphs have self-loops, duplicate
  * edges, isolated pairs, and the first one is empty.
  *
  * An undirected edge (a, b) is one document mentioning a and b, so the
  * triple-level entries see it through `coocEdges`: a self-loop mentions
  * one entity and makes no edge, and a duplicate edge is a co-mention
  * weight of 2.
  */
class FixpointOracleSpec extends SparkTestBase {

  private type Graph = Seq[(Int, Int)]

  /** n ≤ 8 nodes, n to 3n random edges, a planted clique on nodes
    * 0..c−1 (c ≤ 4, so there are cores and trusses to find), and maybe a
    * self-loop, a repeated edge and an isolated pair on two fresh nodes.
    */
  private val graph: Gen[Graph] = for {
    n <- Gen.choose(3, 8)
    m <- Gen.choose(n, 3 * n)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    c <- Gen.choose(0, n min 4)
    loop <- Gen.oneOf(false, true)
    dup <- Gen.oneOf(false, true)
    iso <- Gen.oneOf(false, true)
  } yield es ++ (for (a <- 0 until c; b <- a + 1 until c) yield (a, b)) ++
    (if (loop) Seq((n - 1, n - 1)) else Nil) ++ (if (dup) es.take(1) else Nil) ++
    (if (iso) Seq((n, n + 1)) else Nil)

  /** A weighted shortcut found after every node is reached: v1 is first
    * reached over the weight-1 edge (cost 1e6), then over three weight-3
    * hops (999999) one round after v4 was reached through it, so v4's
    * distance improves in a round that reaches no new node.
    */
  private val shortcut: Graph =
    Seq((0, 1), (1, 4)) ++ Seq.fill(3)(Seq((0, 2), (2, 3), (3, 1))).flatten

  /** Nine graphs: the empty one, seven generated ones, and [[shortcut]]. */
  private lazy val graphs: Seq[Graph] = Seq.empty[(Int, Int)] +:
    Gen.listOfN(7, graph).pureApply(Gen.Parameters.default, Seed(20261020L)) :+ shortcut

  private def v(i: Int): String = s"v$i"

  /** Distinct non-loop neighbors of every node with one. */
  private def adjacency(g: Graph): Map[String, Set[String]] =
    g.filter(e => e._1 != e._2)
      .flatMap { case (a, b) => Seq(v(a) -> v(b), v(b) -> v(a)) }
      .groupMap(_._1)(_._2).map { case (k, ns) => k -> ns.toSet }

  private def triples(g: Graph): DataFrame = {
    val s = spark
    import s.implicits._
    g.zipWithIndex.flatMap { case ((a, b), j) => Seq((s"d$j", "m", v(a)), (s"d$j", "m", v(b))) }
      .toDF("subj", "pred", "obj")
  }

  private def pairs(df: DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def longs(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The edge relations the entries read in a session. */
  private def pinned(t: DataFrame) = GraphOps.pinnedEdges(t)
  private def weighted(t: DataFrame) = Pin(GraphOps.coocEdgesWeighted(t))

  /** w of every ordered pair of distinct co-mentioned nodes: the number of
    * generated (non-loop) edges between them, one document each.
    */
  private def weights(g: Graph): Map[(String, String), Long] =
    g.filter(e => e._1 != e._2)
      .flatMap { case (a, b) => Seq(v(a) -> v(b), v(b) -> v(a)) }
      .groupMapReduce(identity)(_ => 1L)(_ + _)

  private def seedsOf(i: Int): Seq[String] = if (i % 2 == 0) Seq(v(0)) else Seq(v(1), v(3))

  test("the generated graphs have every adversarial feature") {
    def unordered(e: (Int, Int)) = (e._1 min e._2, e._1 max e._2)
    val isolatedPair = (g: Graph) => g.exists { case (a, b) =>
      a != b && g.forall(e => Set(e._1, e._2).intersect(Set(a, b)).isEmpty ||
        unordered(e) == unordered((a, b)))
    }
    assert(graphs.size === 9 && graphs.head.isEmpty)
    assert(graphs.exists(_.exists(e => e._1 == e._2)), "no self-loop")
    assert(graphs.exists(g => g.map(unordered).distinct.size < g.count(e => e._1 != e._2)),
      "no duplicate edge")
    assert(graphs.exists(isolatedPair), "no isolated pair")
  }

  test("ConnectedComponents.run == union-find, over string and long ids") {
    val s = spark
    import s.implicits._
    // ids whose numeric order disagrees with their string order
    val longIds = Seq(9L, 10L, 3L, 1000000L, -5L, 2000000007L, 0L, Long.MaxValue - 1, 42L, 100L)
    def reference[T](g: Graph, id: Int => T, least: (T, T) => T): Map[T, T] = {
      val root = scala.collection.mutable.Map.empty[Int, Int]
      def find(x: Int): Int = root.get(x) match {
        case Some(p) if p != x => val r = find(p); root(x) = r; r
        case _ => x
      }
      val links = g.filter(e => e._1 != e._2)
      links.foreach { case (a, b) => root(find(a)) = find(b) }
      links.flatMap(e => Seq(e._1, e._2)).distinct.groupBy(find).values.flatMap { ms =>
        val label = ms.map(id).reduce(least)
        ms.map(m => id(m) -> label)
      }.toMap
    }
    graphs.zipWithIndex.foreach { case (g, i) =>
      val asString = pairs(ConnectedComponents.run(g.map(e => (v(e._1), v(e._2))).toDF("src", "dst")))
      assert(asString === reference[String](g, v, (a, b) => if (a < b) a else b), s"graph $i, strings")
      val asLong = ConnectedComponents.run(
        g.map(e => (longIds(e._1), longIds(e._2))).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(asLong === reference[Long](g, longIds, math.min), s"graph $i, longs")
    }
  }

  test("kcore == iterative peel") {
    @tailrec def peel(adj: Map[String, Set[String]], k: Int): Map[String, Set[String]] = {
      val drop = adj.collect { case (n, ns) if ns.size < k => n }.toSet
      if (drop.isEmpty) adj
      else peel((adj -- drop).map { case (n, ns) => n -> (ns -- drop) }, k)
    }
    val wants = graphs.zipWithIndex.map { case (g, i) =>
      val k = 2 + i % 2
      val want = peel(adjacency(g), k).map { case (n, ns) => n -> ns.size.toLong }
      assert(GraphOps.kcoreOnEdges(pinned(triples(g)), k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap === want, s"graph $i, k=$k")
      want
    }
    assert(wants.count(_.nonEmpty) > 2, "too few non-empty cores")
  }

  test("ktruss == iterative peel") {
    def support(es: Set[(String, String)]): Map[(String, String), Long] = {
      val nbrs = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2).map { case (n, ns) => n -> ns.toSet }
      es.map { case e @ (a, b) => e -> nbrs(a).intersect(nbrs(b)).size.toLong }.toMap
    }
    @tailrec def peel(es: Set[(String, String)], k: Int): Map[(String, String), Long] = {
      val supp = support(es)
      val kept = es.filter(e => supp(e) >= k - 2)
      if (kept == es) supp else peel(kept, k)
    }
    val wants = graphs.zipWithIndex.map { case (g, i) =>
      val k = 3 + i % 2
      val es = adjacency(g).toSeq.flatMap { case (a, ns) => ns.filter(a < _).map(a -> _) }.toSet
      val want = peel(es, k)
      assert(GraphOps.ktrussOnEdges(pinned(triples(g)), k).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap === want, s"graph $i, k=$k")
      want
    }
    assert(wants.count(_.nonEmpty) > 2, "too few non-empty trusses")
  }

  test("shortestPaths == Dijkstra over 1e6 div w costs") {
    def dijkstra(g: Graph, seeds: Seq[String]): Map[String, Long] = {
      val cost = weights(g).map { case ((a, b), w) => (a, b, 1000000L / w) }
      @tailrec def settle(dist: Map[String, Long], done: Set[String]): Map[String, Long] =
        dist.filter(d => !done(d._1)).minByOption(_._2) match {
          case None => dist
          case Some((u, du)) =>
            val relaxed = cost.collect { case (`u`, y, c) if dist.get(y).forall(_ > du + c) => y -> (du + c) }
            settle(dist ++ relaxed, done + u)
        }
      val nodes = cost.map(_._1).toSet
      settle(seeds.filter(nodes).map(_ -> 0L).toMap, Set.empty)
    }
    graphs.zipWithIndex.foreach { case (g, i) =>
      val seeds = seedsOf(i)
      val got = longs(GraphOps.shortestPathsOnWeightedEdges(weighted(triples(g)), seeds))
      assert(got === dijkstra(g, seeds), s"graph $i, seeds $seeds")
    }
  }

  test("the three rank entries == integer rank rounds over co-mention weights, 1–3 iterations") {
    // r0 = 1e6 on seeds, 0 elsewhere; r(y) = jump(y) + Σ (85·r(x)·w) div
    // (100·Σw(x)), jump = 150000 on seeds
    def rounds(w: Map[(String, String), Long], iters: Int, seed: String => Boolean) = {
      val wdeg = w.groupMapReduce(_._1._1)(_._2)(_ + _)
      def onSeeds(n: String, m: Long) = if (seed(n)) m else 0L
      (1 to iters).foldLeft(wdeg.map { case (n, _) => n -> onSeeds(n, 1000000L) }) { (r, _) =>
        w.toSeq.groupMapReduce(_._1._2) {
          case ((x, _), wx) => 85 * r(x) * wx / (100 * wdeg(x))
        }(_ + _)
          .map { case (y, flow) => y -> (flow + onSeeds(y, 150000L)) }
      }
    }
    graphs.zipWithIndex.foreach { case (g, i) =>
      val w = weights(g)
      val once = w.map { case (e, _) => e -> 1L }
      val (edges, wEdges, seeds) = (pinned(triples(g)), weighted(triples(g)), seedsOf(i))
      (1 to 3).foreach { iters =>
        assert(longs(GraphOps.pagerankOnEdges(edges, iters)) === rounds(once, iters, _ => true),
          s"graph $i, plain, $iters iterations")
        assert(longs(GraphOps.pagerankPersonalizedOnEdges(edges, seeds, iters)) ===
          rounds(once, iters, seeds.contains), s"graph $i, seeds $seeds, $iters iterations")
        assert(longs(GraphOps.pagerankWeightedOnEdges(wEdges, iters)) ===
          rounds(w, iters, _ => true), s"graph $i, weighted, $iters iterations")
      }
    }
    assert(graphs.exists(g => weights(g).values.exists(_ > 1L)), "no edge of weight > 1")
  }

  test("bfs at radius 4 == frontier rounds") {
    graphs.zipWithIndex.foreach { case (g, i) =>
      val adj = adjacency(g)
      val seeds = seedsOf(i)
      val want = (1 to 4).foldLeft(seeds.filter(adj.contains).map(_ -> 0L).toMap) { (dist, r) =>
        dist ++ dist.collect { case (n, d) if d == r - 1 => adj(n) }.flatten
          .filterNot(dist.contains).map(_ -> r.toLong)
      }
      assert(longs(GraphOps.bfsOnEdges(pinned(triples(g)), seeds, rounds = 4)) === want,
        s"graph $i, seeds $seeds")
    }
  }

  test("hopBoundedShortestPaths at radius 3 == synchronous Bellman–Ford rounds") {
    graphs.zipWithIndex.foreach { case (g, i) =>
      val cost = weights(g).map { case (e, w) => e -> 1000000L / w }
      val seeds = seedsOf(i)
      val nodes = cost.keySet.map(_._1)
      val want = (1 to 3).foldLeft(seeds.filter(nodes).map(_ -> 0L).toMap) { (dist, _) =>
        val offers = cost.toSeq
          .collect { case ((x, y), c) if dist.contains(x) => y -> (dist(x) + c) }
          .groupMapReduce(_._1)(_._2)(math.min)
        dist ++ offers.map { case (y, o) => y -> dist.get(y).fold(o)(math.min(_, o)) }
      }
      assert(longs(GraphOps.hopBoundedShortestPaths(weighted(triples(g)), seeds, rounds = 3)) ===
        want, s"graph $i, seeds $seeds")
    }
  }

  test("labelPropagationConverged == synchronous rounds with the 2-cycle rule") {
    val maxRounds = 64
    /** None: no fixpoint and no 2-cycle within the bound. */
    def rounds(adj: Map[String, Set[String]]): Option[Map[String, String]] = {
      def step(lab: Map[String, String]) = adj.map { case (n, ns) =>
        val counts = ns.toSeq.groupBy(lab).map { case (l, xs) => l -> xs.size }
        n -> counts.filter(_._2 == counts.values.max).keys.min
      }
      @tailrec def go(prev2: Option[Map[String, String]], cur: Map[String, String],
          round: Int): Option[Map[String, String]] =
        if (round > maxRounds) None
        else {
          val next = step(cur)
          if (next == cur) Some(next)
          else if (prev2.contains(next))
            Some(next.map { case (n, l) => n -> (if (l < cur(n)) l else cur(n)) })
          else go(Some(cur), next, round + 1)
        }
      go(None, adj.map { case (n, _) => n -> n }, 1)
    }
    graphs.zipWithIndex.foreach { case (g, i) =>
      val op = GraphOps.labelPropagationConvergedOnEdges(pinned(triples(g)), maxRounds)
      rounds(adjacency(g)) match {
        case Some(want) => assert(pairs(op) === want, s"graph $i")
        case None => intercept[IllegalStateException](op.collect())
      }
    }
  }

  test("transitiveClosure == depth-first search; a cycle is rejected") {
    val s = spark
    import s.implicits._
    // even graphs oriented low -> high index without self-loops (acyclic),
    // odd graphs as generated (cycles and self-loops are likely)
    val cases = graphs.zipWithIndex.map { case (g, i) =>
      if (i % 2 == 0) g.filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)) else g
    }
    val cyclic = cases.zipWithIndex.map { case (g, i) =>
      val parents = g.groupMap(e => v(e._1))(e => v(e._2))
      def ancestors(c: String): Set[String] = {
        @tailrec def dfs(stack: List[String], seen: Set[String]): Set[String] = stack match {
          case Nil => seen
          case x :: rest =>
            val fresh = parents.getOrElse(x, Nil).filterNot(seen)
            dfs(fresh.toList ++ rest, seen ++ fresh)
        }
        dfs(List(c), Set.empty)
      }
      val want = parents.keys.toSeq.flatMap(c => ancestors(c).map(c -> _)).toSet
      val edges = g.map(e => (v(e._1), v(e._2))).toDF("child", "parent")
      val isCyclic = want.exists { case (c, a) => c == a }
      if (isCyclic) intercept[IllegalArgumentException](Ontology.transitiveClosure(edges))
      else assert(Ontology.transitiveClosure(edges).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet === want, s"graph $i")
      isCyclic
    }
    assert(cyclic.count(!_) > 1 && cyclic.contains(true), s"cyclic cases: $cyclic")
  }
}
