package graft.kg.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixpoint

/** Ontology-backed inference over the emitted KG (SURVEY.md §2 consumption
  * side): a deterministic `is_a` taxonomy over the entity vocabulary, its
  * transitive closure, and RDFS-style triple entailment (`subClassOf` range
  * inference: `(s, p, o) ∧ o is_a* a ⇒ (s, p, a)`). The taxonomy is
  * metadata-sized by nature (it describes the entity VOCABULARY, not the
  * corpus), so the closure is computed in a few tiny jobs and BROADCAST into
  * the corpus-scale entailment join — the corpus-side triple relation is
  * scanned exactly once, never shuffled.
  *
  * All arithmetic-free string relations: the DuckDB oracles embed the same
  * taxonomy VALUES verbatim (the [[graft.kg.io.Dictionaries]] /
  * langProfiles single-source pattern) and state the closure as a recursive
  * CTE — hash-exact pairing.
  */
object Ontology {

  /** The deterministic `is_a` taxonomy over the KG's entity vocabulary:
    * leaf entities → category → root, depth 2 everywhere (skills fan into
    * categories of 5; titles into families of 4; locations into regions of
    * 4; languages into one family). Leaves are DERIVED from the gazetteer
    * vocabulary ([[graft.kg.io.Dictionaries]]) — grow a dictionary and the
    * taxonomy follows; the oracles embed this same Seq verbatim so they
    * can never drift from it. A real deployment swaps in its curated
    * taxonomy through the same (child, parent) shape.
    */
  val taxonomy: Seq[(String, String)] = {
    import graft.kg.io.Dictionaries
    def ids(g: Seq[graft.kg.schema.GazEntry]) = g.map(_.entity_id).distinct.sorted
    def leafCats(leaves: Seq[String], per: Int, cat: String, root: String) = {
      val leafRows = leaves.zipWithIndex.map { case (e, i) => (e, s"$cat${i / per}") }
      val cats = leafRows.map(_._2).distinct.sorted.map((_, root))
      leafRows ++ cats
    }
    leafCats(ids(Dictionaries.gazSkills), 5, "SCAT", "Skill") ++
      leafCats(ids(Dictionaries.gazTitles), 4, "TFAM", "Title") ++
      leafCats(ids(Dictionaries.gazLocations), 4, "REG", "Region") ++
      ids(Dictionaries.gazLanguages).map((_, "Language"))
  }

  def taxonomyDf(s: SparkSession): DataFrame = {
    import s.implicits._
    taxonomy.toDF("child", "parent")
  }

  /** Transitive closure of an `(child, parent)` edge relation —
    * CONVERGENCE-CHECKED extension joins `r_{i+1} = r_i ∪ (r_i ⋈ edges)`
    * (distinct), iterated until a round adds no pair. A static unroll
    * would silently TRUNCATE a taxonomy deeper than its round count (a
    * schema change away from wrong entailments). The loop is
    * [[graft.Fixpoint]]: each round pins its closure, tagging the pairs it
    * started from, and the pin's own job counts the untagged (new) pairs
    * and the pairs `(v, v)` — one metadata-scale job per round plus its
    * exchanges, and no round re-executes an earlier one. `maxRounds`
    * bounds runaway inputs; CYCLES are rejected (`require`) in the round
    * that closes the first one (a cyclic is_a closure converges but makes
    * nodes their own ancestors — always a data bug, better thrown than
    * entailed; a self-pair, once present, stays in every later round).
    *
    * Output: (child, anc), NOT reflexive (a node is not its own ancestor).
    */
  def transitiveClosure(edges: DataFrame, maxRounds: Int = 8): DataFrame = {
    val step = edges.select(col("child").as("anc"), col("parent").as("anc2"))
    Fixpoint("taxonomy closure", maxRounds,
      edges.select(col("child"), col("parent").as("anc")),
      Seq(count_if(col("old").isNull), count_if(col("child") === col("anc")))) { t =>
      val r = t.select(col("child"), col("anc"))
      r.withColumn("old", lit(1))
        .union(r.join(step, Seq("anc"))
          .select(col("child"), col("anc2").as("anc"), lit(null).cast("int").as("old")))
        .groupBy("child", "anc").agg(max(col("old")).as("old"))
    } { r =>
      require(r.getLong(1) == 0L, "cyclic is_a taxonomy: a node is its own ancestor")
      r.getLong(0) == 0L
    }.select(col("child"), col("anc"))
  }

  /** RDFS-style entailment: the input triples PLUS, for every triple whose
    * object has taxonomy ancestors, one triple per ancestor (same subj,
    * same pred — `requiresSkill S007` entails `requiresSkill SCAT1` and
    * `requiresSkill Skill`: the query "postings requiring ANY skill of
    * category 1" becomes a plain equi-lookup on the entailed relation).
    * Objects outside the taxonomy (workload ranges, companies) pass
    * through unentailed.
    *
    * Shape: ONE pass over the corpus-scale triple relation — the closure
    * is pre-grouped into a per-child ancestor ARRAY (metadata-sized,
    * broadcast), each triple left-joins it and explodes [obj] ∪ ancestors,
    * then one distinct (the R12 fused-dedup discipline). The naive
    * `t.union(t ⋈ closure)` formulation re-executes the whole upstream
    * triple derivation once per union branch (caught by PlanAudit: two
    * full extraction subtrees in the union) — the join+explode keeps a
    * single derivation without requiring the caller to checkpoint.
    */
  def entailTriples(triples: DataFrame, closure: DataFrame): DataFrame = {
    val ancs = closure.groupBy(col("child"))
      .agg(collect_list(col("anc")).as("ancs"))
      .withColumnRenamed("child", "obj")
    triples.select(col("subj"), col("pred"), col("obj"))
      .join(broadcast(ancs), Seq("obj"), "left")
      .select(col("subj"), col("pred"), explode(concat(array(col("obj")),
        expr("coalesce(ancs, cast(array() as array<string>))"))).as("obj"))
      .distinct()
  }
}
