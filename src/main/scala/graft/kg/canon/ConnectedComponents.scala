package graft.kg.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** R13 — canonicalization of surface forms via iterative DataFrame connected
  * components (SURVEY.md §2.1, BASELINE.json:6: "iterative DataFrame
  * connected-components clustering").
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
  * O(log n) rounds on any graph, using only groupBy-min and equi-joins (no
  * collect_list, no per-node neighborhood materialization, no RDDs, no
  * GraphX). The input and each round are pinned ([[graft.Pin]]) to cut the
  * Catalyst lineage — without that the re-planned plan tree grows
  * exponentially with iterations (SURVEY.md §4, the one place a naive build
  * dies at scale; [[graft.Pin]] states what changes on a cluster).
  *
  * Node ids are any Catalyst-orderable column type — the engine only uses
  * min/least/greatest/comparisons, so surface canonicalization runs it over
  * strings (component label = lexicographically-smallest surface) and dedup
  * survivor picking runs it over raw LongType doc ids (no padded-string keys
  * inflating the shuffle width; ConnectedComponentsSpec pins both). The
  * component label is the minimum member under the type's ordering.
  */
object ConnectedComponents {

  /** Large-star: for every node u, connect all strictly-larger neighbors to
    * m(u) = min(N(u) ∪ {u}).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = nbrs.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    nbrs.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
    // no distinct here: [[smallStar]] (the only consumer) starts with its
    // own orient+distinct over the same keys, so this one bought set
    // semantics nobody reads at the cost of one extra Exchange+agg PER
    // ROUND (×O(log n) rounds ×every CC caller); volume is bounded at |e|
    // rows either way (each large-endpoint orientation emits one row)
  }

  /** Small-star: orient edges from larger to smaller endpoint; for every node
    * u connect all its (smaller-or-equal) neighbors and u itself to
    * m(u) = min(N(u) ∪ {u}).
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    // no input distinct (same rationale as [[largeStar]]'s dropped output
    // distinct): duplicate oriented edges change neither the groupBy-min
    // nor the final output set — the ONE distinct on the round's output
    // below provides the set semantics the convergence probe needs, and
    // dropping the input-side one removes another Exchange+agg per round.
    // Duplicate volume is bounded by largeStar's ≤|e| output.
    val dir = edges
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
    val mins = dir.groupBy("src").agg(min(col("dst")).as("m"))
    val relinked = dir.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
    val self = mins.select(col("src"), col("m").as("dst"))
    relinked.union(self)
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Run CC over an undirected edge list `edges(src, dst)` (any orderable
    * id type — string, long, …).
    * Returns (node, component) for every node incident to an edge, where
    * component = min node of the connected component.
    *
    * `maxIter` is a THROWING runaway bound, never a silent truncation (the
    * kcore/ktruss/WSP discipline): a truncated star forest would silently
    * under-merge components — at 10^12-row scale that is a wrong dedup
    * decision with no error. Large-star/small-star needs O(log n) rounds,
    * so 64 covers any physically storable graph; rounds past convergence
    * cost nothing (the loop exits at the exact fixpoint).
    */
  def run(edges: DataFrame, maxIter: Int = 64): DataFrame = {
    var e = Pin(edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = Pin(smallStar(largeStar(e)))
      // EXACT set-equality fixpoint test, not a hash signature (a summed
      // per-edge hash can collide or cancel across a delta and declare
      // convergence mid-iteration — the unsound genre GraphOps's WSP fix
      // documents). Both relations are distinct sets, so a full-outer
      // join with no one-sided row ⇔ next = prev, for ANY orderable id
      // type (CC runs over strings for surface canonicalization, longs
      // for dedup — a monotone numeric label-sum would not be
      // type-generic). Cost: ONE emptiness probe per round over the two
      // checkpointed edge sets, O(log n) rounds total.
      converged = next.withColumn("l", lit(1))
        .join(e.withColumn("r", lit(1)), Seq("src", "dst"), "full_outer")
        .where(col("l").isNull || col("r").isNull)
        .isEmpty
      e = next
      iter += 1
    }
    require(converged,
      s"ConnectedComponents not converged after $maxIter rounds — " +
        "raise maxIter; refusing to return a truncated (under-merged) forest")
    // At the fixed point every edge points child -> component root.
    val members = e.select(col("src").as("node"), col("dst").as("component"))
    val roots = e.select(col("dst").as("node"), col("dst").as("component")).distinct()
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
