package graft.kg.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Pin}

/** R13 — canonicalization of surface forms via iterative DataFrame connected
  * components (SURVEY.md §2.1, BASELINE.json:6: "iterative DataFrame
  * connected-components clustering").
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
  * O(log n) rounds on any graph, using only windowed mins and one
  * aggregation per round (no collect_list, no per-node neighborhood
  * materialization, no RDDs, no GraphX). A round is three exchanges (the
  * large-star window, the small-star window, the distinct) and one pin
  * ([[graft.Pin]]) that cuts the Catalyst lineage — without it the
  * re-planned plan tree grows exponentially with iterations (SURVEY.md §4,
  * the one place a naive build dies at scale; [[graft.Pin]] states what
  * changes on a cluster). The loop is [[graft.Fixpoint]]: the convergence
  * test rides the pin's own job, so a round costs the pin job and the jobs
  * of its exchanges, at most four (ConnectedComponentsSpec counts them).
  *
  * Node ids are any Catalyst-orderable column type — the engine only uses
  * min/least/greatest/comparisons, so surface canonicalization runs it over
  * strings (component label = lexicographically-smallest surface) and dedup
  * survivor picking runs it over raw LongType doc ids (no padded-string keys
  * inflating the shuffle width; ConnectedComponentsSpec pins both). The
  * component label is the minimum member under the type's ordering.
  */
object ConnectedComponents {

  private val bySrc = Window.partitionBy("src")

  /** Large-star: for every node u, connect all strictly-larger neighbors to
    * m(u) = min(N(u) ∪ {u}). The min is a window over the neighbor union,
    * so the rows and their group's min come out of one exchange. The output
    * keeps duplicates: the round's distinct is the only set operation.
    */
  private def largeStar(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .select(col("src"), col("dst"),
        least(col("src"), min(col("dst")).over(bySrc)).as("m"))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))

  /** Small-star: orient edges from larger to smaller endpoint; for every node
    * u connect all its (smaller) neighbors and u itself to
    * m(u) = min(N(u) ∪ {u}) = min of u's oriented neighbors. The same window
    * as [[largeStar]]; each row emits its relinked edge `(dst, m)` and the
    * self edge `(src, m)`, so no per-node min relation is joined back.
    */
  private def smallStar(edges: DataFrame): DataFrame =
    edges
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), min(col("dst")).over(bySrc).as("m"))
      .select(explode(array(
        struct(col("dst").as("src"), col("m").as("dst")),
        struct(col("src"), col("m").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .where(col("src") =!= col("dst"))

  /** Run CC over an undirected edge list `edges(src, dst)` (any orderable
    * id type — string, long, …).
    * Returns (node, component) for every node incident to an edge, where
    * component = min node of the connected component.
    *
    * `maxIter` is a THROWING runaway bound, never a silent truncation (the
    * [[graft.Fixpoint]] discipline): a truncated star forest would silently
    * under-merge components — at 10^12-row scale that is a wrong dedup
    * decision with no error. Large-star/small-star needs O(log n) rounds,
    * so 64 covers any physically storable graph; rounds past convergence
    * cost nothing (the loop exits at the exact fixpoint).
    */
  def run(edges: DataFrame, maxIter: Int = 64): DataFrame = {
    // The state is a tagged edge set: `l` marks the edges of the latest
    // round, `r` those of the round before. No distinct on the input:
    // round 1's group-by collapses repeated edges, and the star windows'
    // mins ignore them.
    def live(t: DataFrame) = t.where(col("l").isNotNull).select(col("src"), col("dst"))
    val fin = Fixpoint("ConnectedComponents", maxIter,
      Pin(edges.select(col("src"), col("dst"), lit(1).as("l")).where(col("src") =!= col("dst"))),
      // One aggregation is both the round's distinct and its EXACT
      // set-equality fixpoint test, not a hash signature (a summed
      // per-edge hash can collide or cancel across a delta and declare
      // convergence mid-iteration — the unsound genre GraphOps's WSP fix
      // documents). Grouping this round's edges (l) with the previous set
      // (r) by (src, dst), a group with only one side is an edge in
      // exactly one of the two sets, so none ⇔ next = prev, for ANY
      // orderable id type (a monotone numeric label-sum would not be
      // type-generic). Zero rows observe null, which is also "no change".
      Seq(sum(when(col("l").isNull || col("r").isNull, 1L).otherwise(0L)))) { t =>
      val e = live(t)
      smallStar(largeStar(e))
        .select(col("src"), col("dst"), lit(1).as("l"), lit(null).cast("int").as("r"))
        .union(e.select(col("src"), col("dst"), lit(null).cast("int").as("l"), lit(1).as("r")))
        .groupBy("src", "dst").agg(max(col("l")).as("l"), max(col("r")).as("r"))
    } { changed => changed.isNullAt(0) || changed.getLong(0) == 0L }
    // At the fixed point every edge points child -> component root; the
    // groupBy drops the roots' repeats.
    val e = live(fin)
    val members = e.select(col("src").as("node"), col("dst").as("component"))
    val roots = e.select(col("dst").as("node"), col("dst").as("component"))
    members.union(roots)
      .groupBy("node").agg(min(col("component")).as("component"))
  }

  /** INCREMENTAL CC — fold a shard's new edges into committed
    * (node, component) labels without re-traversing the base graph (the
    * daily-shard path of canonicalization, the
    * [[graft.ops.IncrementalDedup]] discipline applied to R13). The
    * committed star forest is connectivity-equivalent to the base graph,
    * so merges can only happen through new edges:
    *
    * 1. components TOUCHED by a new-edge endpoint are found with one semi
    *    join against the label table (node-keyed access);
    * 2. only the touched components' label stars re-enter CC, together
    *    with the new edges — the iterated subgraph is shard-neighborhood-
    *    sized, never base-sized;
    * 3. every untouched label passes through via one anti join
    *    (component-keyed access) — ConnectedComponentsSpec proves state is
    *    not recomputed by planting a corrupted label on an untouched
    *    component and observing it survive.
    *
    * Identity: `incremental(run(base), shard) ≡ run(base ∪ shard)` — the
    * min label of a merged component is the min over its label-star
    * members ∪ new nodes, exactly what from-scratch computes (the spec
    * pins it; kg_canonical_increment shares kg_canonical's recursive-CTE
    * oracle). At 10^12 nodes keep the label table in two bucketed access
    * paths (by node for the semi join, by component for the anti join) —
    * both contacts with committed state are single equi-joins.
    */
  def incremental(labels: DataFrame, newEdges: DataFrame,
      maxIter: Int = 64): DataFrame = {
    val touched = newEdges.select(col("src").as("node"))
      .union(newEdges.select(col("dst").as("node"))).distinct()
    val touchedComps = labels.join(touched, Seq("node"), "left_semi")
      .select(col("component")).distinct()
    val affected = labels.join(touchedComps, Seq("component"), "left_semi")
    val sub = affected
      .select(col("node").as("src"), col("component").as("dst"))
      .union(newEdges.select(col("src"), col("dst")))
    labels.join(touchedComps, Seq("component"), "left_anti")
      .select(col("node"), col("component"))
      .union(run(sub, maxIter))
  }
}
