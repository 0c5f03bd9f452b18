package graft

import graft.kg.canon.ConnectedComponents

/** SURVEY.md §5.4 — CC correctness vs a union-find oracle on seeded random
  * graphs, plus the path-graph worst case (exercises the O(log n) round bound
  * of large-star/small-star).
  */
class ConnectedComponentsSpec extends SparkTestBase {

  private def node(i: Int): String = f"n$i%05d"

  private class UnionFind(n: Int) {
    private val p = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (p(x) != x) p(x) = find(p(x)); p(x) }
    def union(a: Int, b: Int): Unit = { val (x, y) = (find(a), find(b)); if (x != y) p(y) = x }
  }

  private def check(n: Int, edges: Seq[(Int, Int)], clue: String): Unit = {
    val s = spark
    import s.implicits._
    val uf = new UnionFind(n)
    edges.foreach { case (a, b) => uf.union(a, b) }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val oracle = touched
      .groupBy(uf.find)
      .flatMap { case (_, ms) => val rep = node(ms.min); ms.map(m => node(m) -> rep) }
      .toMap
    val got = ConnectedComponents.run(
      edges.map { case (a, b) => (node(a), node(b)) }.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == oracle, clue)
  }

  test("random graphs match union-find oracle") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 80
      val edges = (0 until 90).map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
        .filter(e => e._1 != e._2)
      check(n, edges, s"trial $trial")
    }
  }

  test("path graph (CC worst case) converges") {
    val n = 60
    check(n, (0 until n - 1).map(i => (i, i + 1)), "path graph")
  }

  test("convergence is exact set equality: stable edge COUNTS never early-stop") {
    // Adversarial fixture for the signature genre (the WSP-fix discipline):
    // on a path graph, star contraction keeps the edge count ~stable for
    // many rounds (each non-root keeps one parent pointer) while the edge
    // SET keeps changing — a count-only or colliding/cancelling hash-sum
    // signature declares convergence mid-contraction and returns an
    // under-merged forest. The exact anti-join check must keep iterating
    // to the single final component.
    val n = 400
    check(n, (0 until n - 1).map(i => (i, i + 1)), "deep path graph")
  }

  test("low maxIter THROWS rather than silently returning a truncated forest") {
    val s = spark
    import s.implicits._
    val edges = (0 until 199).map(i => (node(i), node(i + 1))).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.run(edges, maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("not converged"))
    // empty input converges trivially (no edges → no rows, no throw)
    assert(ConnectedComponents.run(edges.limit(0)).collect().isEmpty)
  }

  test("a round costs at most four Spark jobs: the convergence test rides the pin") {
    val s = spark
    import s.implicits._
    // Both graphs take exactly two rounds (round 1 points every node at its
    // component's min, round 2 finds the fixpoint): maxIter = 1 throws,
    // maxIter = 2 returns.
    val rounds = 2
    val graphs = Seq(
      "single edge" -> Seq((1, 2)),
      "disjoint triangles" -> Seq((1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)))
    graphs.foreach { case (name, es) =>
      val edges = es.toDF("src", "dst")
      intercept[IllegalStateException](ConnectedComponents.run(edges, maxIter = rounds - 1))
      val (out, rec) = JobRecord(spark)(ConnectedComponents.run(edges, maxIter = rounds))
      val n = rec.jobs
      info(s"$name: $n jobs")
      // the input pin (one job, no exchange) plus at most 4 a round
      assert(n <= 4 * rounds + 1, s"$name: $n jobs for $rounds rounds")
      val want = es.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> (if (v < 10) 1 else 10)).toMap
      assert(out.as[(Int, Int)].collect().toMap == want, name)
    }
  }

  test("self-loops and duplicate edges are harmless") {
    check(10, Seq((1, 1), (1, 2), (2, 1), (1, 2), (4, 5)), "dup/self edges")
  }

  test("incremental: shard folds into committed labels; identity with from-scratch") {
    val s = spark
    import s.implicits._
    // base: comp {1,2,3} (label 1), comp {10,11} (label 10), comp {20,21}
    val base = Seq((1, 2), (2, 3), (10, 11), (20, 21)).toDF("src", "dst")
    // shard: merges comp 1 with comp 10 (edge 3-11), adds a brand-new comp
    // {30,31}, and attaches a NEW MINIMUM node 0 to comp 20
    val shard = Seq((3, 11), (30, 31), (0, 21)).toDF("src", "dst")
    val committed = ConnectedComponents.run(base)
    val inc = ConnectedComponents.incremental(committed, shard)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val scratch = ConnectedComponents.run(base.union(shard))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(inc === scratch)
    assert(inc(11) === 1)  // merged across base components
    assert(inc(30) === 30) // brand-new component
    assert(inc(20) === 0)  // new minimum relabels the touched component
  }

  test("incremental: untouched components pass through, not recomputed") {
    val s = spark
    import s.implicits._
    // plant a label from-scratch CC could NEVER produce on an untouched
    // component: if it survives, committed state flowed through the anti
    // join rather than re-entering the CC iterations
    val committed = Seq((1, 1), (2, 1), (10, -999), (11, -999))
      .toDF("node", "component")
    val shard = Seq((2, 3)).toDF("src", "dst")
    val inc = ConnectedComponents.incremental(committed, shard)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(inc(10) === -999 && inc(11) === -999)
    assert(inc(3) === 1 && inc(2) === 1 && inc(1) === 1)
  }

  test("long-typed node ids: same components as the padded-string encoding") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // ids spanning the long domain, incl. values whose raw-string ordering
    // would DISAGREE with numeric ordering (9 < 10 numerically, "10" < "9")
    val ids = (Seq(3L, 9L, 10L, 1000000L, 2000000007L, Long.MaxValue - 1) ++
      (0 until 40).map(_ => math.abs(rnd.nextLong()))).distinct
    val edges = (0 until 60).map(_ => (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
      .filter(e => e._1 != e._2)
    val asLong = ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pad = (x: Long) => f"$x%019d"
    val asString = ConnectedComponents.run(
      edges.map { case (a, b) => (pad(a), pad(b)) }.toDF("src", "dst"))
      .collect().map(r => r.getString(0).toLong -> r.getString(1).toLong).toMap
    assert(asLong == asString)
    // component label is the numeric minimum member
    asLong.groupBy(_._2).foreach { case (comp, ms) => assert(ms.keys.min == comp) }
  }
}
