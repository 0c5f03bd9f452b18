package graft

import org.apache.spark.sql.DataFrame

import graft.kg.graph.GraphOps

/** Hand-computed coverage for the KG graph-analytics operators (their
  * sf0.01 DuckDB oracles — over the full synthetic triple relation — are the
  * end-to-end gate; these pin the arithmetic on a 4-node graph).
  *
  * Fixture: D1 mentions {A,B,C}, D2 {A,B}, D3 {C,D} →
  * undirected co-occurrence edges {A-B, A-C, B-C, C-D};
  * degrees A=2, B=2, C=3, D=1; one triangle {A,B,C}.
  */
class GraphOpsSpec extends SparkTestBase {

  private def triples = {
    import spark.implicits._
    Seq(("D1", "m", "A"), ("D1", "m", "B"), ("D1", "m", "C"),
      ("D2", "m", "A"), ("D2", "m", "B"), ("D3", "m", "C"), ("D3", "m", "D"))
      .toDF("subj", "pred", "obj")
  }

  /** The edge relations the entries read in a session. */
  private def pinned(t: DataFrame) = GraphOps.pinnedEdges(t)
  private def weighted(t: DataFrame) = Pin(GraphOps.coocEdgesWeighted(t))

  test("coocEdges: symmetric distinct pairs, duplicate co-occurrence collapses") {
    val e = GraphOps.coocEdges(triples).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // A-B co-occurs in two docs but is ONE edge pair
    assert(e === Set(("A", "B"), ("B", "A"), ("A", "C"), ("C", "A"),
      ("B", "C"), ("C", "B"), ("C", "D"), ("D", "C")))
  }

  test("components: clique+bridge collapse to one component, isolate keeps itself") {
    import spark.implicits._
    // fixture graph is ONE component (C bridges {A,B} to D); E is mentioned
    // alone in D4 → no edges → singleton component
    val t = triples.union(Seq(("D4", "m", "E")).toDF("subj", "pred", "obj"))
    val c = GraphOps.components(t).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(c === Set(("A", "A"), ("B", "A"), ("C", "A"), ("D", "A"), ("E", "E")))
  }

  test("materializedEdgeTable: bucketed-path pagerank equals the pinned path") {
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // the production property: the table scan IS the bucketing — the plan
    // reads the edge side pre-partitioned (bucketed scan), so iterations
    // add no edge-side exchange
    def assertBucketed(df: DataFrame) = {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"expected a bucketed scan in:\n${plan.take(2000)}")
    }
    val tbl = spark.table(
      GraphOps.materializedEdgeTable(spark, triples, tag = "graphspec", buckets = 4))
    assert(rows(GraphOps.pagerankOnEdges(tbl, iters = 3)) ===
      rows(GraphOps.pagerankOnEdges(pinned(triples), iters = 3)))
    assertBucketed(GraphOps.pagerankOnEdges(tbl, iters = 3))
    // the weighted table serves the weighted rank and the shortest paths
    val wtbl = spark.table(
      GraphOps.materializedWeightedEdgeTable(spark, triples, tag = "graphspec", buckets = 4))
    assert(rows(GraphOps.pagerankWeightedOnEdges(wtbl, iters = 3)) ===
      rows(GraphOps.pagerankWeightedOnEdges(weighted(triples), iters = 3)))
    assert(rows(GraphOps.shortestPathsOnWeightedEdges(wtbl, Seq("A"))) ===
      rows(GraphOps.shortestPathsOnWeightedEdges(weighted(triples), Seq("A"))))
    assertBucketed(GraphOps.pagerankWeightedOnEdges(wtbl, iters = 3))
  }

  test("pagerankWeighted: one hand-unrolled weighted iteration") {
    // weights: A-B = 2 (D1, D2), A-C = B-C = C-D = 1; wdeg A=3 B=3 C=3 D=1
    // r1(A) = 150000 + (85e6·2) div 300 + (85e6) div 300 = 150000 + 566666 + 283333
    val r = GraphOps.pagerankWeightedOnEdges(weighted(triples), iters = 1).collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(r === Map("A" -> 999999L, "B" -> 999999L,
      "C" -> 1566666L, "D" -> 433333L))
  }

  test("incrementalCoocEdges: shard folds in without base pairs; union identity") {
    import spark.implicits._
    val shard = Seq(("D9", "m", "A"), ("D9", "m", "B"), ("D9", "m", "E"))
      .toDF("subj", "pred", "obj")
    val stored = GraphOps.halfCoocEdges(triples)
    val inc = GraphOps.incrementalCoocEdges(stored, shard)
    val got = inc.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // D9's pairs are {A-B, A-E, B-E}; A-B is already stored -> increment
    // carries only the genuinely new edges
    assert(got === Set(("A", "E"), ("B", "E")))
    // identity: stored ∪ increment == from-scratch over base ∪ shard
    val full = GraphOps.halfCoocEdges(triples.union(shard)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val storedSet = stored.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert((storedSet ++ got) === full)
  }

  test("pagerank: one hand-unrolled integer iteration") {
    val r = GraphOps.pagerankOnEdges(pinned(triples), iters = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // contributions: A,B floor(850000/2)=425000; C floor(850000/3)=283333;
    // D 850000. r1 = 150000 + sum(in-contributions)
    assert(r === Map("A" -> 858333L, "B" -> 858333L,
      "C" -> 1850000L, "D" -> 433333L))
  }

  test("pagerankPersonalized: one hand-unrolled iteration, seed {A}") {
    val r = GraphOps.pagerankPersonalizedOnEdges(pinned(triples), seeds = Seq("A"),
      iters = 1).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // r0: A=1e6, rest 0. A's contribution floor(850000/2)=425000 to B and C;
    // every other contribution is 0. Jump 150000 lands on the seed only.
    // D is reached by an edge (from C) but carries zero flow -> rank 0.
    assert(r === Map("A" -> 150000L, "B" -> 425000L,
      "C" -> 425000L, "D" -> 0L))
  }

  test("kcore: k=2 peel keeps the triangle, drops the tendril") {
    val r = GraphOps.kcoreOnEdges(pinned(triples), k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // D (deg 1) peels in round 1; the {A,B,C} triangle is the 2-core
    assert(r === Map("A" -> 2L, "B" -> 2L, "C" -> 2L))
  }

  test("kcore: converges past any fixed unroll; a low cap throws, never truncates") {
    val s = spark
    import s.implicits._
    // triangle T1-T2-T3 with a SIX-node chain hanging off T3: the peel
    // cascades one chain node per round, so the fixpoint needs 6 rounds —
    // the round-4 static unroll this operator used to be would silently
    // return {C1, C2} as part of the "core"
    val e = Seq(("T1", "T2"), ("T2", "T3"), ("T3", "T1"), ("T3", "C1"),
      ("C1", "C2"), ("C2", "C3"), ("C3", "C4"), ("C4", "C5"), ("C5", "C6"))
    val sym = (e ++ e.map(_.swap)).toDF("x", "y")
    val r = GraphOps.kcoreOnEdges(sym, k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r === Map("T1" -> 2L, "T2" -> 2L, "T3" -> 2L))
    // a cap below the cascade depth must THROW, not return the superset
    val ex = intercept[IllegalStateException] {
      GraphOps.kcoreOnEdges(sym, k = 2, maxRounds = 4).collect()
    }
    assert(ex.getMessage.contains("not converged"))
    // peel-to-empty converges to the empty core (no edge survives k=3)
    assert(GraphOps.kcoreOnEdges(sym, k = 3).collect().isEmpty)
  }

  test("ktruss: 3-truss keeps the triangle, drops the bridge") {
    val r = GraphOps.ktrussOnEdges(pinned(triples), k = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(r === Map(("A", "B") -> 1L, ("A", "C") -> 1L, ("B", "C") -> 1L))
  }

  test("ktruss: cascades converge past any fixed unroll; K4 survives; low cap throws") {
    val s = spark
    import s.implicits._
    // K4-minus-an-edge: supp(12)=2, others 1 — the 4-truss peel needs the
    // second round to drop the last edge
    val e = Seq(("1", "2"), ("1", "3"), ("1", "4"), ("2", "3"), ("2", "4"))
    val sym = (e ++ e.map(_.swap)).toDF("x", "y")
    assert(GraphOps.ktrussOnEdges(sym, k = 4).collect().isEmpty)
    // a triangle STRIP v0..v7 (triangles (v_i, v_i+1, v_i+2)): interior
    // edges have supp 2, boundary edges 1 — the k=4 peel eats one triangle
    // per round from each end and needs ~4 rounds, beyond the old 2-round
    // unroll (which would return the inner strip as a fake truss)
    val strip = (0 to 6).map(i => (s"v$i", s"v${i + 1}")) ++
      (0 to 5).map(i => (s"v$i", s"v${i + 2}"))
    val symStrip = (strip ++ strip.map(_.swap)).toDF("x", "y")
    assert(GraphOps.ktrussOnEdges(symStrip, k = 4).collect().isEmpty)
    // peel-to-empty is fully determined and converges EARLY (the empty
    // truss at round 2 here), never tripping the cap
    assert(GraphOps.ktrussOnEdges(symStrip, k = 4, maxRounds = 2).collect().isEmpty)
    // a cap below the cascade depth throws when the result is NOT yet
    // determined: strip ∪ K4 never empties (the K4 survives), so the
    // still-shrinking round-2 state must refuse to pose as the truss
    val k4w = Seq(("w1", "w2"), ("w1", "w3"), ("w1", "w4"), ("w2", "w3"),
      ("w2", "w4"), ("w3", "w4"))
    val symMix = ((strip ++ k4w) ++ (strip ++ k4w).map(_.swap)).toDF("x", "y")
    val mixed = GraphOps.ktrussOnEdges(symMix, k = 4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(mixed.size === 6 && mixed.values.forall(_ === 2L),
      "only the K4 should survive the mixed peel")
    val ex = intercept[IllegalStateException] {
      GraphOps.ktrussOnEdges(symMix, k = 4, maxRounds = 2).collect()
    }
    assert(ex.getMessage.contains("not converged"))
    // the full K4 is a genuine 4-truss: all 6 edges, supp 2 within it
    val k4 = e :+ (("3", "4"))
    val symK4 = (k4 ++ k4.map(_.swap)).toDF("x", "y")
    val rK4 = GraphOps.ktrussOnEdges(symK4, k = 4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rK4.size === 6 && rK4.values.forall(_ === 2L))
  }

  test("edgeSupport: per-edge triangle support and exact embeddedness") {
    // A-B: supp 1 (C), denom 2+2-2-1=1 -> 1e6 (clique edge)
    // A-C / B-C: supp 1, denom 2+3-2-1=2 -> 500000
    // C-D: supp 0, denom 2 -> 0 (pure bridge)
    val r = GraphOps.edgeSupportOnEdges(pinned(triples)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(r === Map(
      ("A", "B") -> ((1L, 1000000L)), ("A", "C") -> ((1L, 500000L)),
      ("B", "C") -> ((1L, 500000L)), ("C", "D") -> ((0L, 0L))))
  }

  test("clusteringCoefficient: exact e6 ratios, star hub and isolate at 0") {
    // deg A=2 B=2 C=3 D=1; n_tri A=B=C=1, D=0
    // lcc(A) = 2·1e6 div 2 = 1e6 (both neighbors adjacent); lcc(C) = 2e6 div 6
    val r = GraphOps.clusteringCoefficient(triples).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(r === Map(
      "A" -> ((2L, 1L, 1000000L)), "B" -> ((2L, 1L, 1000000L)),
      "C" -> ((3L, 1L, 333333L)), "D" -> ((1L, 0L, 0L))))
  }

  test("degreeHistogram: binary-digit-count buckets, exact ranges") {
    // degrees A=2, B=2, C=3, D=1 → buckets: 1→0, {2,3}→1
    val r = GraphOps.degreeHistogram(triples).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(r === Map(0L -> ((1L, 1L, 1L)), 1L -> ((3L, 2L, 3L))))
  }

  test("edgeLift: exact integer lift over the half relation") {
    // nDocs=3; m: A=2 B=2 C=2 D=1; w: A-B=2, A-C=1, B-C=1, C-D=1
    // lift(A,B) = 3·2·1e6 div 4 = 1500000; lift(A,C) = 3·1e6 div 4 = 750000
    // lift(C,D) = 3·1e6 div 2 = 1500000 (rarity of D compensates w=1)
    val r = GraphOps.edgeLift(triples).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(r === Map(
      ("A", "B") -> ((2L, 1500000L)), ("A", "C") -> ((1L, 750000L)),
      ("B", "C") -> ((1L, 750000L)), ("C", "D") -> ((1L, 1500000L))))
  }

  test("bfs: hop distances from a seed; radius bounds the reached set") {
    val r = GraphOps.bfsOnEdges(pinned(triples), seeds = Seq("A"), rounds = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r === Map("A" -> 0L, "B" -> 1L, "C" -> 1L, "D" -> 2L))
    // radius 1: D (2 hops away) is not reached and is absent
    val r1 = GraphOps.bfsOnEdges(pinned(triples), seeds = Seq("A"), rounds = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 === Map("A" -> 0L, "B" -> 1L, "C" -> 1L))
  }

  test("shortestPaths: weighted relaxation prefers the strong edge") {
    // costs: A-B = 1e6 div 2 = 500000; A-C, B-C, C-D = 1e6
    val r = GraphOps.shortestPathsOnWeightedEdges(weighted(triples), seeds = Seq("A"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r === Map("A" -> 0L, "B" -> 500000L,
      "C" -> 1000000L, "D" -> 2000000L))
  }

  test("shortestPaths: converges past any hop bound; hopBounded keeps the radius contract") {
    val s = spark
    import s.implicits._
    // a 7-hop path: the converged operator reaches n7 (dist 7e6); the old
    // 4-relaxation unroll could not — that radius semantics now lives only
    // under the hopBounded name
    val t = (0 until 7).map(i => (s"d$i", "p", s"n$i")) ++
      (0 until 7).map(i => (s"d$i", "p", s"n${i + 1}"))
    val triples7 = t.toDF("subj", "pred", "obj")
    val r = GraphOps.shortestPathsOnWeightedEdges(weighted(triples7), seeds = Seq("n0"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r.size === 8 && r("n7") === 7000000L)
    val hb = GraphOps.hopBoundedShortestPaths(weighted(triples7), seeds = Seq("n0"),
      rounds = 4).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hb.size === 5 && !hb.contains("n7") && hb("n4") === 4000000L)
    // a cap below the diameter must THROW, never return truncated distances
    val ex = intercept[IllegalStateException] {
      GraphOps.shortestPathsOnWeightedEdges(weighted(triples7), seeds = Seq("n0"),
        maxRounds = 3).collect()
    }
    assert(ex.getMessage.contains("not converged"))
  }

  test("bfs: multi-source takes the min over seeds") {
    val r = GraphOps.bfsOnEdges(pinned(triples), seeds = Seq("B", "D"), rounds = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // C is 1 hop from both B and D; A is 1 from B
    assert(r === Map("B" -> 0L, "D" -> 0L, "A" -> 1L, "C" -> 1L))
  }

  test("triangles: degree-ordered enumeration finds the one triangle, thrice") {
    val t = GraphOps.trianglesOnEdges(pinned(triples)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t === Map("A" -> 1L, "B" -> 1L, "C" -> 1L))
  }

  test("labelPropagation: bridged triangles keep separate communities (vs CC)") {
    import spark.implicits._
    // two triangles {A,B,C} / {X,Y,Z} joined by the single bridge C-X:
    // CC merges everything; LPA's density signal keeps them apart.
    // Hand-unrolled 3 deterministic rounds (max count, min-label ties):
    // r1: A→B B→A C→A X→C Y→X Z→X; r2: A→A B→A C→A X→X Y→C Z→C;
    // r3: A→A B→A C→A X→C Y→C Z→C.
    val t = Seq(("D1", "m", "A"), ("D1", "m", "B"), ("D1", "m", "C"),
      ("D2", "m", "X"), ("D2", "m", "Y"), ("D2", "m", "Z"),
      ("D3", "m", "C"), ("D3", "m", "X")).toDF("subj", "pred", "obj")
    val l = GraphOps.labelPropagationOnEdges(pinned(t), rounds = 3).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(l === Map("A" -> "A", "B" -> "A", "C" -> "A",
      "X" -> "C", "Y" -> "C", "Z" -> "C"))
    val cc = GraphOps.components(t).collect()
      .map(r => r.getString(1)).toSet
    assert(cc.size === 1, "CC merges across the bridge — the contrast LPA exists for")
  }

  test("labelPropagationConverged: oscillators merge via the 2-cycle detector") {
    import spark.implicits._
    // a single symmetric edge is the minimal synchronous-LPA oscillator:
    // labels SWAP every round (A:B,B:A <-> A:A,B:B), so an unguarded
    // run-to-fixpoint loop never terminates. The detector must stop at
    // the first repeated state and merge the two alternating states to
    // the elementwise min label
    val osc = Seq(("A", "B"), ("B", "A")).toDF("x", "y")
    val r = GraphOps.labelPropagationConvergedOnEdges(osc).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(r === Map("A" -> "A", "B" -> "A"))
    // a graph with a true fixpoint converges to it: two bridged triangles
    // settle exactly where the 3-round unroll lands (r2 == r3 there)
    val t = Seq(("D1", "m", "A"), ("D1", "m", "B"), ("D1", "m", "C"),
      ("D2", "m", "X"), ("D2", "m", "Y"), ("D2", "m", "Z"),
      ("D3", "m", "C"), ("D3", "m", "X")).toDF("subj", "pred", "obj")
    val conv = GraphOps.labelPropagationConvergedOnEdges(pinned(t)).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(conv === Map("A" -> "A", "B" -> "A", "C" -> "A",
      "X" -> "C", "Y" -> "C", "Z" -> "C"))
    // the runaway bound THROWS rather than returning a mid-oscillation state
    val ex = intercept[IllegalStateException] {
      GraphOps.labelPropagationConvergedOnEdges(osc, maxRounds = 0).collect()
    }
    assert(ex.getMessage.contains("no fixpoint or 2-cycle"))
  }

  test("linkPredictionRA: non-edges scored by common-neighbor mass, hubs capped") {
    import spark.implicits._
    // path A-B-C plus B-D: non-edges (A,C) share {B}, (A,D) share {B},
    // (C,D) share {B}; deg(B)=3 → ra = 1e6 div 3 = 333333 each
    val t = Seq(("D1", "m", "A"), ("D1", "m", "B"),
      ("D2", "m", "B"), ("D2", "m", "C"), ("D3", "m", "B"), ("D3", "m", "D"))
      .toDF("subj", "pred", "obj")
    val r = GraphOps.linkPredictionRA(t).collect()
      .map(x => ((x.getString(0), x.getString(1)), (x.getLong(2), x.getLong(3)))).toMap
    assert(r === Map(("A", "C") -> ((1L, 333333L)), ("A", "D") -> ((1L, 333333L)),
      ("C", "D") -> ((1L, 333333L))))
    // the hub cap removes every wedge through B at maxDeg = 2
    assert(GraphOps.linkPredictionRA(t, maxDeg = 2).isEmpty)
  }

  test("randomWalks: deterministic, edge-valid, walksPerNode walks per entity") {
    val w1 = GraphOps.randomWalksOnEdges(pinned(triples), steps = 3, walksPerNode = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val w2 = GraphOps.randomWalksOnEdges(pinned(triples), steps = 3, walksPerNode = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(w1.toSet === w2.toSet, "hash-argmin walks must reproduce bit-exactly")
    // 4 entities × 2 walks × (steps+1) positions; step 0 = the seed itself
    assert(w1.length === 4 * 2 * 4)
    assert(w1.filter(_._2 == 0L).map(x => (x._1, x._3)).toSet ===
      Set("A", "B", "C", "D").flatMap(n =>
        Set((s"${n.length}:$n#0", n), (s"${n.length}:$n#1", n))))
    // every consecutive hop is a real edge
    val edges = GraphOps.coocEdges(triples).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val byWalk = w1.groupBy(_._1).values
    byWalk.foreach { steps =>
      steps.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, a), (_, _, b)) =>
          assert(edges.contains((a, b)), s"walk hop $a -> $b is not an edge")
        case _ =>
      }
    }
  }

  test("reachSketch: exact counts below k, KMV estimate above, merge-exact") {
    val s = spark
    import s.implicits._
    // path A-B-C-D-E (each consecutive pair co-occurs in one doc): closed
    // 2-hop reaches are A:3 B:4 C:5 D:4 E:3 — all < k=8, so the sketch
    // degenerates to exact counts
    val t = (0 until 4).flatMap(i => Seq((s"d$i", "p", s"N${i}"), (s"d$i", "p", s"N${i + 1}")))
      .toDF("subj", "pred", "obj")
    val exact = GraphOps.reachSketchOnEdges(pinned(t)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact === Map("N0" -> 3L, "N1" -> 4L, "N2" -> 5L, "N3" -> 4L, "N4" -> 3L))
    // k=2: the center's 5-node neighborhood estimates through the KMV
    // formula — replicate bottom-2 of the portable 60-bit hashes exactly
    def hash60(x: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def estOf(nodes: Seq[String]): Long = {
      val h2 = nodes.map(hash60).sorted.apply(1)
      (BigInt(1152921504606846976L) / BigInt(h2)).toLong
    }
    val est = GraphOps.reachSketchOnEdges(pinned(t), k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("N2") === estOf(Seq("N0", "N1", "N2", "N3", "N4")),
      "KMV estimator mismatch at the center")
    // an endpoint's closed 2-hop set is {self, next, next-next}
    assert(est("N0") === estOf(Seq("N0", "N1", "N2")))
    assert(est("N4") === estOf(Seq("N2", "N3", "N4")))
    // harmonic shell sum at exact (below-k) estimates: center N2 has
    // shells |N1|-1 = 2 at distance 1 and |N2|-|N1| = 2 at distance 2 ->
    // 2*1e6 + 2*1e6/2 = 3e6; endpoints 1e6 + 1e6/2
    val harm = GraphOps.harmonicCentralityOnEdges(pinned(t)).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(harm === Map("N0" -> 1500000L, "N1" -> 2500000L,
      "N2" -> 3000000L, "N3" -> 2500000L, "N4" -> 1500000L))
  }

  test("randomWalks: delimiter characters in entity ids cannot merge walks") {
    val s = spark
    import s.implicits._
    // adversarial vocabulary: ids built from the '#'/'|' walk-id and
    // hash-input delimiters, including pairs ('a', 'a#1') whose naive
    // concatenations collide — the length-prefixed walk_id must keep one
    // distinct id per (node, r) and exactly steps+1 rows per walk
    val ids = Seq("a", "a#1", "a#1#0", "x|y", "x")
    val triples = ids.combinations(2).flatMap(p =>
      Seq((s"doc-${p(0)}-${p(1)}", "p", p(0)), (s"doc-${p(0)}-${p(1)}", "p", p(1))))
      .toSeq.toDF("subj", "pred", "obj")
    val w = GraphOps.randomWalksOnEdges(pinned(triples), steps = 2, walksPerNode = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // every node is connected (pairwise docs), so: |ids| × 3 walks × 3 steps
    assert(w.length === ids.length * 3 * 3,
      "colliding walk ids merged or corrupted walks")
    assert(w.map(_._1).distinct.length === ids.length * 3)
    w.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.map(_._2).sorted.toSeq === Seq(0L, 1L, 2L), s"walk $id malformed")
    }
  }
}
