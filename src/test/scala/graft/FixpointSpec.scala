package graft

import org.apache.spark.sql.DataFrame

import graft.kg.canon.ConnectedComponents
import graft.kg.graph.GraphOps
import graft.kg.query.Ontology

/** What one converged run of each [[Fixpoint]] operator costs in Spark jobs:
  * every job started during one `collect()` of the operator on a pinned
  * input, on the GraphOpsSpec / OntologySpec fixtures. Each round pays for
  * its pin job and that job's exchanges; no operator runs a count or an
  * emptiness probe of its own, before round 1 or inside a round. The
  * bounds are the counts measured when the operators moved onto
  * [[Fixpoint]] (local[4], 4 shuffle partitions; BENCH.md's 4-core log
  * has them next to the counts of the hand-rolled loops before it). Three
  * counts moved from run to run over fifteen runs (k-truss 33–36, label
  * propagation 14–16 and 29–32), so their bounds sit one above the
  * largest count seen.
  */
class FixpointSpec extends SparkTestBase {

  private def sym(es: Seq[(String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    Pin((es ++ es.map(_.swap)).toDF("x", "y"))
  }

  private def jobs(name: String)(df: => DataFrame): Int = {
    val n = JobRecord(spark)(df.collect())._2.jobs
    info(s"$name: $n jobs")
    n
  }

  // a triangle strip v0..v7: triangles (v_i, v_i+1, v_i+2)
  private val strip = (0 to 6).map(i => (s"v$i", s"v${i + 1}")) ++
    (0 to 5).map(i => (s"v$i", s"v${i + 2}"))

  test("runaway bound: one IllegalStateException naming the operator") {
    val ex = intercept[IllegalStateException] {
      Fixpoint("probe", 2, spark.range(3).toDF("id"),
        Seq(org.apache.spark.sql.functions.count("id")))(identity)(_ => false)
    }
    assert(ex.getMessage.startsWith("probe not converged after 2 rounds"))
  }

  test("ConnectedComponents.run: triangle strip") {
    val s = spark
    import s.implicits._
    val edges = Pin(strip.toDF("src", "dst"))
    assert(jobs("cc strip")(ConnectedComponents.run(edges)) <= 15)
  }

  test("kcoreOnEdges: triangle plus 6-chain") {
    val e = sym(Seq(("T1", "T2"), ("T2", "T3"), ("T3", "T1"), ("T3", "C1"),
      ("C1", "C2"), ("C2", "C3"), ("C3", "C4"), ("C4", "C5"), ("C5", "C6")))
    assert(jobs("k-core")(GraphOps.kcoreOnEdges(e, k = 2)) <= 30)
  }

  test("ktrussOnEdges: strip ∪ K4 at k=4") {
    val k4 = Seq(("w1", "w2"), ("w1", "w3"), ("w1", "w4"), ("w2", "w3"),
      ("w2", "w4"), ("w3", "w4"))
    val e = sym(strip ++ k4)
    assert(jobs("k-truss")(GraphOps.ktrussOnEdges(e, k = 4)) <= 37)
  }

  test("labelPropagationConvergedOnEdges: 2-node oscillator and bridged triangles") {
    val s = spark
    import s.implicits._
    val osc = sym(Seq(("A", "B")))
    assert(jobs("lpa oscillator")(GraphOps.labelPropagationConvergedOnEdges(osc)) <= 17)
    val bridged = GraphOps.pinnedEdges(Seq(("D1", "m", "A"), ("D1", "m", "B"), ("D1", "m", "C"),
      ("D2", "m", "X"), ("D2", "m", "Y"), ("D2", "m", "Z"),
      ("D3", "m", "C"), ("D3", "m", "X")).toDF("subj", "pred", "obj"))
    assert(jobs("lpa bridged")(GraphOps.labelPropagationConvergedOnEdges(bridged)) <= 33)
  }

  test("shortestPathsOnWeightedEdges: 7-hop path") {
    val s = spark
    import s.implicits._
    val t = ((0 until 7).map(i => (s"d$i", "p", s"n$i")) ++
      (0 until 7).map(i => (s"d$i", "p", s"n${i + 1}"))).toDF("subj", "pred", "obj")
    val w = Pin(GraphOps.coocEdgesWeighted(t))
    assert(jobs("wsp")(GraphOps.shortestPathsOnWeightedEdges(w, Seq("n0"))) <= 41)
  }

  test("transitiveClosure: 7-chain and the shipped taxonomy") {
    val s = spark
    import s.implicits._
    val deep = Pin((0 until 7).map(i => (s"n$i", s"n${i + 1}")).toDF("child", "parent"))
    assert(jobs("closure chain")(Ontology.transitiveClosure(deep)) <= 22)
    val taxonomy = Pin(Ontology.taxonomyDf(spark))
    assert(jobs("closure taxonomy")(Ontology.transitiveClosure(taxonomy)) <= 7)
  }
}
