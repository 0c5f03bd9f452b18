package graft.kg.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Querying the MATERIALIZED knowledge graph — the basic-graph-pattern
  * (BGP) consumption side of KG construction (SURVEY.md §2: after (subj,
  * pred, obj) triples are emitted, "find postings matching these entity
  * constraints and return these bindings" is THE query users run on them;
  * the subject-star shape below is the SPARQL star BGP / vertical-
  * partitioning workload of Abadi et al., SW-Store VLDB'09).
  *
  * Physical story — the reason this lives on top of
  * [[graft.kg.emit.TableIO]]'s layout rather than a flat triple file: the
  * committed table is `partitionBy(pred, bucket)`, so every pattern's
  * per-predicate selection is a PARTITION-PRUNED scan (only the `pred=…`
  * directories are listed and read — TripleStoreSpec asserts the
  * `PartitionFilters` in the executed plan), and the `obj = …` constraint
  * is a parquet row-group pushed filter under it. At 10^12 triples a
  * pattern never touches the other predicates' bytes; a flat layout would
  * scan everything six times.
  */
object TripleStore {

  /** One pattern of a subject-star BGP. All patterns share the subject
    * variable; `obj = Some(v)` constrains the object, `bind = Some(name)`
    * returns the object as a result column `name` (both at once is a
    * constrained binding). A pattern must constrain or bind (or both) —
    * a bare predicate-existence test is `obj = None, bind = None` and is
    * rejected to keep call sites explicit (use a bind you ignore).
    */
  final case class TriplePattern(pred: String, obj: Option[String] = None,
      bind: Option[String] = None, optional: Boolean = false) {
    require(obj.isDefined || bind.isDefined,
      s"pattern on '$pred' neither constrains nor binds")
    require(!optional || bind.isDefined,
      s"OPTIONAL pattern on '$pred' must bind (an optional constraint is a no-op)")
  }

  /** Subject-star BGP over a triple relation (columns subj, pred, obj —
    * extra columns are pruned). Result: one row per BINDING COMBINATION
    * (SPARQL semantics — multi-valued bound predicates multiply rows),
    * columns `subj` + one per bind name, inner semantics (a subject
    * missing any pattern's predicate is dropped) — EXCEPT `optional`
    * patterns (SPARQL OPTIONAL): their bind column is NULL where the
    * subject has no such triple, and the row is kept. Optional binds
    * join LAST (SPARQL's left-associative OPTIONAL over the required
    * group) as left outer equi-joins on the same subj key — the chain
    * stays one co-partitioned lineage, no extra exchange genre.
    *
    * Join plan, chosen for the 10^12-triple table:
    * - constraint-only patterns become LEFT SEMI joins on subj — a
    *   constraint filters, it must never multiply rows, and semi joins
    *   keep the build side values-free. Their inputs are single-predicate
    *   single-object selections (partition-pruned + pushed-filter scans),
    *   typically the most selective relations of the query — they are
    *   broadcast (each executor filters its bind partition locally; no
    *   shuffle of the bound side) unless `broadcastConstraints = false`
    *   (set it when a constraint is a hub object like a stop-skill; the
    *   semi join then shuffles on subj like the bind joins).
    * - bind patterns chain as inner equi-joins on subj, first bind first;
    *   all shuffle on the same subj key so AQE/exchange reuse co-locates
    *   the chain after the first exchange.
    */
  def starQuery(triples: DataFrame, patterns: Seq[TriplePattern],
      broadcastConstraints: Boolean = true): DataFrame = {
    require(patterns.nonEmpty, "starQuery needs at least one pattern")
    val names = patterns.flatMap(_.bind)
    require(names.distinct.size == names.size, s"duplicate bind names: $names")
    def scan(p: TriplePattern): DataFrame = {
      val perPred = triples.where(col("pred") === p.pred)
      p.obj.fold(perPred)(o => perPred.where(col("obj") === o))
    }
    val (allBinds, constraints) = patterns.partition(_.bind.isDefined)
    val (optionals, binds) = allBinds.partition(_.optional)
    require(binds.nonEmpty || constraints.nonEmpty,
      "starQuery needs at least one required pattern to anchor OPTIONALs")
    def constrain(df: DataFrame): DataFrame =
      constraints.foldLeft(df) { (acc, c) =>
        val subjects = scan(c).select(col("subj"))
        acc.join(if (broadcastConstraints) broadcast(subjects) else subjects,
          Seq("subj"), "left_semi")
      }
    val required = binds match {
      case Seq() =>
        // pure-existence query: the matching subjects themselves. distinct
        // AFTER the semi chain — each semi input is already per-(subj,
        // pred, obj) unique, but the seed constraint relation can repeat
        // subj only if the caller passed a pre-dedup triple relation.
        constrain(scan(constraints.head).select(col("subj"))).distinct()
      case hd +: tl =>
        val seed = constrain(
          scan(hd).select(col("subj"), col("obj").as(hd.bind.get)))
        tl.foldLeft(seed) { (acc, b) =>
          acc.join(scan(b).select(col("subj"), col("obj").as(b.bind.get)),
            Seq("subj"))
        }
    }
    optionals.foldLeft(required) { (acc, b) =>
      acc.join(scan(b).select(col("subj"), col("obj").as(b.bind.get)),
        Seq("subj"), "left")
    }
  }

  /** SIBLING (object-join) BGP — the 2-hop query shape a star can't
    * express: "subjects sharing a `via` object with any subject matching
    * the constraints" (e.g. postings located in the same city as postings
    * requiring skill X — the `?s1 :via ?o . ?s2 :via ?o` object-join of
    * SPARQL BGPs). Seed subjects include themselves in the result (they
    * share their own object) — inner SPARQL semantics, no special case.
    *
    * Join plan on the committed store: the seed side is [[starQuery]]'s
    * constraint machinery (partition-pruned selections, broadcast semi
    * joins) reduced to a distinct subject set; hop 1 semi-joins the
    * pruned `via` scan on those subjects and distincts to the shared
    * OBJECT set (city/company-cardinality — far below subjects);
    * hop 2 semi-joins the same pruned `via` scan on that object set,
    * broadcast by default (`broadcastObjs = false` for hub objects —
    * the semi join then shuffles on obj). The `via` predicate's bytes
    * are read twice but nothing else's ever — both hops prune to the
    * `pred=via` partitions.
    * Output: (subj, via_obj) — one row per qualifying (subject, shared
    * object) pair, exact SPARQL combination semantics.
    */
  def siblingQuery(triples: DataFrame, via: String,
      constraints: Seq[TriplePattern],
      broadcastObjs: Boolean = true): DataFrame = {
    require(constraints.nonEmpty, "siblingQuery needs seed constraints")
    require(constraints.forall(_.obj.isDefined),
      "siblingQuery seeds are constraint patterns (obj required)")
    val seeds = starQuery(triples,
      constraints.map(c => TriplePattern(c.pred, c.obj)))
    val viaScan = triples.where(col("pred") === via)
      .select(col("subj"), col("obj"))
    val seedObjs = viaScan.join(seeds, Seq("subj"), "left_semi")
      .select(col("obj")).distinct()
    viaScan
      .join(if (broadcastObjs) broadcast(seedObjs) else seedObjs,
        Seq("obj"), "left_semi")
      .select(col("subj"), col("obj").as("via_obj"))
  }

  /** Per-predicate catalog statistics — the selectivity numbers a BGP
    * planner orders patterns by (and the first sanity report run over any
    * freshly-committed store): triple count, distinct subjects, distinct
    * objects per predicate. ONE pass: a single grouping-sets-free hash-agg
    * with two distinct aggregates (Catalyst plans the standard 3-way
    * expand + two-level partial agg — map-side combine keeps the shuffle
    * at distinct-value cardinality, never triple cardinality). On the
    * committed store this is also per-partition parallel: `pred` is the
    * partition column, so groups never cross predicate directories.
    * Output: (pred, n_triples, n_subj, n_obj).
    */
  def predicateStats(triples: DataFrame): DataFrame =
    triples.groupBy(col("pred")).agg(
      count(lit(1)).as("n_triples"),
      countDistinct(col("subj")).as("n_subj"),
      countDistinct(col("obj")).as("n_obj"))

  /** [[predicateStats]]' SKETCHED sibling — the 10^12-row path: per-
    * predicate distinct-subject / distinct-object estimates via the KMV
    * bottom-k sketch ([[graft.kg.expr.KMinValues]]). Where the exact stats
    * shuffle every distinct (pred, value) pair, the sketch's partial
    * aggregation absorbs cardinality map-side and ships ≤ k longs per
    * (task, predicate) — the shuffle is sketch-sized, not data-sized.
    *
    * Values are the portable 60-bit md5 hash (shared with [[graft.ops
    * .Dedup]]'s family, so DuckDB reproduces them bit-identically);
    * estimate = (k−1)·2^60 div h_k with h_k the k-th smallest distinct
    * hash — EXACT integer arithmetic (the 2^66-scale product in
    * DECIMAL(38,0), integral-divided back to long), and exact COUNT when
    * a group held fewer than k distinct values (the sketch degenerates to
    * the distinct set itself). Expected relative error ≈ 1/√(k−2).
    * Output: (pred, est_subj, est_obj).
    */
  def predicateCardSketch(triples: DataFrame, kSubj: Int = 64,
      kObj: Int = 8): DataFrame =
    estimateFromSketches(predicateKminSketches(triples, kSubj, kObj),
      kSubj, kObj)

  /** The sketch STATE of [[predicateCardSketch]]: (pred, ks, ko) with
    * ks/ko the ascending bottom-k hash arrays — what a production catalog
    * STORES per partition/shard (vs the estimates, which are derived and
    * not mergeable).
    */
  def predicateKminSketches(triples: DataFrame, kSubj: Int = 64,
      kObj: Int = 8): DataFrame = {
    import graft.kg.expr.functions.{hash60, kmin_values}
    triples
      .select(col("pred"), hash60(col("subj")).as("hs"), hash60(col("obj")).as("ho"))
      .groupBy(col("pred"))
      .agg(kmin_values(col("hs"), kSubj).as("ks"), kmin_values(col("ho"), kObj).as("ko"))
  }

  /** The estimator over stored sketch state: exact COUNT below k,
    * (k−1)·2^60 div h_k at k (exact integer arithmetic — DECIMAL(38,0)
    * product, integral divide back to long). Divisor clamped to ≥ 1 so a
    * (2^-60-probability) zero hash degrades the estimate instead of
    * crashing the query; the DuckDB oracle clamps identically.
    */
  def estimateFromSketches(sketches: DataFrame, kSubj: Int = 64,
      kObj: Int = 8): DataFrame = {
    val M = 1152921504606846976L // 2^60, the hash range
    def est(arr: String, k: Int) =
      when(size(col(arr)) < k, size(col(arr)).cast("long")).otherwise(
        expr(s"cast(${k - 1} as decimal(38,0)) * ${M}L div greatest(element_at($arr, $k), 1L)"))
    sketches.select(col("pred"), est("ks", kSubj).as("est_subj"),
      est("ko", kObj).as("est_obj"))
  }

  /** INCREMENTAL sketch maintenance — the daily-shard path of the catalog
    * stats (the [[graft.ops.IncrementalDedup]] discipline applied to
    * statistics): bottom-k is ASSOCIATIVE and COMMUTATIVE over sets, so
    * `bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B))` EXACTLY — a new
    * shard's sketch folds into the stored sketch with pure array
    * arithmetic (union-dedup, sort, take k; ≤ 2k elements per row, no
    * corpus contact at all), and the merged estimates are bit-identical
    * to sketching base ∪ shard from scratch. The driver pairing states
    * exactly that identity: `kg_card_sketch_increment` (merge of two
    * half-corpus sketches) shares its oracle arithmetic with the
    * from-scratch sketch of the full corpus.
    */
  def mergeKminSketches(stored: DataFrame, shard: DataFrame,
      kSubj: Int = 64, kObj: Int = 8): DataFrame = {
    def m(a: String, b: String, k: Int) = expr(
      s"""slice(array_sort(array_union(
         |  coalesce($a, cast(array() as array<bigint>)),
         |  coalesce($b, cast(array() as array<bigint>)))), 1, $k)""".stripMargin)
    stored.select(col("pred"), col("ks").as("ks1"), col("ko").as("ko1"))
      .join(shard.select(col("pred"), col("ks").as("ks2"), col("ko").as("ko2")),
        Seq("pred"), "full_outer")
      .select(col("pred"), m("ks1", "ks2", kSubj).as("ks"),
        m("ko1", "ko2", kObj).as("ko"))
  }

  /** Commit the raw (pre-dedup) triple relation once per `tag` as the
    * production `(pred, bucket)`-partitioned store
    * ([[graft.kg.emit.TableIO.writeTriplesDeduped]] — the fused
    * single-exchange dedup+layout write) and return its root path; a
    * [[graft.Standing]] table. `spark.read.parquet(root)` then carries
    * `pred`/`bucket` as partition columns — what makes [[starQuery]]'s
    * per-predicate selections prune.
    */
  def materializedTripleTable(spark: SparkSession, rawTriples: DataFrame,
      tag: String): String =
    graft.Standing("triplestore", tag) { root =>
      graft.kg.emit.TableIO.writeTriplesDeduped(spark, rawTriples, root)
      root
    }

  /** CHAIN BGP — `?s p1 ?o1 . ?o1 p2 ?o2`: the object→SUBJECT join a star
    * or sibling query can't express (the path shape SPARQL planners order
    * joins for). On the emitted KG the chain becomes meaningful through
    * the ontology: with [[graft.kg.query.Ontology.taxonomy]] loaded as
    * `is_a` triples, `requiresSkill/is_a` returns each posting's skills
    * WITH their direct categories — the input to per-category rollups
    * without a second extraction.
    *
    * Join plan: each hop is a single-predicate selection (partition-pruned
    * scan on the committed store; filter-pushed union branches on an
    * in-memory relation), joined obj₁ = subj₂. `broadcastHop = true`
    * (default) broadcasts hop 2 — right whenever p2 is ontology-sized
    * (taxonomy edges, catalog metadata); set false for a corpus-scale p2
    * and the join shuffles both sides on the chain variable.
    * Output: (subj, o1, o2), SPARQL combination semantics.
    */
  def chainQuery(triples: DataFrame, p1: String, p2: String,
      broadcastHop: Boolean = true): DataFrame = {
    val hop1 = triples.where(col("pred") === p1)
      .select(col("subj"), col("obj").as("o1"))
    val hop2 = triples.where(col("pred") === p2)
      .select(col("subj").as("o1"), col("obj").as("o2"))
    hop1.join(if (broadcastHop) broadcast(hop2) else hop2, Seq("o1"))
      .select(col("subj"), col("o1"), col("o2"))
  }

  /** 3-hop CHAIN BGP with an OPTIONAL tail —
    * `?s p1 ?o1 . ?o1 p2 ?o2 . OPTIONAL { ?o2 p3 ?o3 }` — the path shape
    * [[chainQuery]] can't express (two object→subject joins, the third
    * hop nullable: SPARQL OPTIONAL = left outer join, so a chain that
    * dead-ends after two hops still emits with `o3` NULL instead of
    * vanishing). On the emitted KG: each posting's skills with their
    * category AND super-category, roots surviving with a NULL tail.
    *
    * Join plan: each hop is a single-predicate selection — a
    * partition-pruned scan when `triples` is the committed pred-partitioned
    * store (TripleStoreSpec asserts the PartitionFilters), a pushed filter
    * on an in-memory relation. Hops chain obj_i = subj_{i+1};
    * `broadcastHops` (default) broadcasts hops 2 and 3 — right whenever
    * p2/p3 are ontology-sized (taxonomy edges); set false for
    * corpus-scale hop relations and both joins shuffle on the chain
    * variable. `optionalTail = false` degrades the tail to a plain inner
    * hop (the strict 3-hop BGP).
    * Output: (subj, o1, o2, o3), SPARQL combination semantics, o3
    * nullable under OPTIONAL.
    */
  def chainQuery3(triples: DataFrame, p1: String, p2: String, p3: String,
      broadcastHops: Boolean = true, optionalTail: Boolean = true): DataFrame = {
    def hop(p: String, s: String, o: String) =
      triples.where(col("pred") === p)
        .select(col("subj").as(s), col("obj").as(o))
    val b = (d: DataFrame) => if (broadcastHops) broadcast(d) else d
    triples.where(col("pred") === p1)
      .select(col("subj"), col("obj").as("o1"))
      .join(b(hop(p2, "o1", "o2")), Seq("o1"))
      .join(b(hop(p3, "o2", "o3")), Seq("o2"),
        if (optionalTail) "left" else "inner")
      .select(col("subj"), col("o1"), col("o2"), col("o3"))
  }

  /** SPARQL DESCRIBE — the entity-page query: everything the KG says
    * about a seed set, to bounded depth. Semantics (a CBD-style profile —
    * DESCRIBE's exact extent is implementation-defined in the SPARQL
    * spec, so the contract is stated here):
    *  - hop 1 is SYMMETRIC: every triple whose subject OR object is a
    *    seed (an entity page shows both "S001 is_a SCAT0" and "which
    *    postings require S001");
    *  - hop 2 is OUTBOUND ONLY from the hop-1 neighbor entities (the
    *    CBD-style fan-out bound: following in-edges twice from a hub
    *    seed would pull a quadratic neighborhood — depth-2 in-edges are
    *    a different query, not a bigger DESCRIBE);
    *  - a triple reachable at both depths reports its MINIMUM hop.
    *
    * Plan, sized for the 10^12-triple store: seeds are literals, so hop 1
    * is a pushed `subj IN (…) OR obj IN (…)` scan filter (no join at
    * all — parquet row-group pruning does the seed lookup). That pruned
    * scan runs TWICE (once under the frontier derivation, once as the
    * hop-1 output branch — DataFrame lineage recomputes shared subtrees,
    * and a hub seed's page can be corpus-scale, so materializing it is
    * worse than a second pruned scan); the frontier itself is ONE
    * explode + distinct (deduped before the shuffle — an entity touching
    * its seed through many triples probes the semi join once, not once
    * per triple) and reaches the store through ONE left-semi equi-join on
    * subj (AQE sizes the build side at runtime: broadcast for a typical
    * entity page, shuffled semi when a hub seed makes the frontier
    * corpus-scale); the final hop-min is a hash-agg over the
    * described subgraph only. Nothing in the plan touches more than
    * scan + semi + agg, and nothing is ever quadratic.
    * Output: (subj, pred, obj, hop), hop ∈ {1, 2}.
    */
  def describe(triples: DataFrame, seeds: Seq[String]): DataFrame = {
    require(seeds.nonEmpty, "describe needs at least one seed entity")
    val t = triples.select(col("subj"), col("pred"), col("obj"))
    val hop1 = t.where(col("subj").isin(seeds: _*) ||
      col("obj").isin(seeds: _*))
    val frontier = hop1
      .select(explode(array(col("subj"), col("obj"))).as("entity"))
      .where(!col("entity").isin(seeds: _*))
      .distinct()
    val hop2 = t.join(frontier, t("subj") === frontier("entity"), "left_semi")
    hop1.withColumn("hop", lit(1L))
      .unionByName(hop2.withColumn("hop", lit(2L)))
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(min(col("hop")).as("hop"))
  }

  /** SPARQL CONSTRUCT — the graph-PRODUCING query form: match the two-hop
    * BGP `?s p1 ?o . ?o p2 ?o2` and instantiate the template triple
    * `(?s, newPred, ?o2)` for every binding — e.g. `?d requiresSkill ?sk .
    * ?sk is_a ?cat → ?d requiresCategory ?cat`, the query that
    * materializes an inferred relation back INTO triple shape (vs the
    * SELECT-style binding output every other BGP entry returns). DISTINCT
    * because distinct paths can instantiate the SAME template triple (two
    * skills in one category) and a graph is a set.
    *
    * Plan: [[chainQuery]]'s two partition-pruned per-predicate scans with
    * the hop-2 side broadcast when ontology-sized, then one fused distinct
    * (partial-agg, map-side combine) — no new exchange genre; the output
    * unions directly back into the store's (subj, pred, obj) schema.
    */
  def construct(triples: DataFrame, p1: String, p2: String, newPred: String,
      broadcastHop: Boolean = true): DataFrame =
    chainQuery(triples, p1, p2, broadcastHop)
      .select(col("subj"), lit(newPred).as("pred"), col("o2").as("obj"))
      .distinct()

  /** SPARQL ASK, batched — k boolean existence questions answered in ONE
    * pass: each question is (name, predicate, optional object constant);
    * the answer is whether ANY triple matches. One max-of-indicator
    * aggregate per question over a single scan (map-side partial agg
    * collapses every task to k integers — never a count of the full match
    * set, never k scans), and the scan is restricted to the questioned
    * predicates up front, so on the committed pred-partitioned store it is
    * PARTITION-PRUNED to exactly the partitions the questions touch. A
    * single highly-selective ASK can short-circuit harder (pruned scan +
    * LIMIT 1); the batch form instead amortizes one pass over all k — the
    * right trade when ASKs arrive in validation suites, not one-offs.
    * Output: (question, answer), answer ∈ {0, 1} as bigint — k rows.
    */
  def askBatch(triples: DataFrame,
      questions: Seq[(String, String, Option[String])]): DataFrame = {
    require(questions.nonEmpty, "askBatch needs at least one question")
    // names are spliced into a selectExpr: reject duplicates (ambiguous
    // column reference) and non-identifier characters (SQL-literal breakage
    // / expression injection) at the contract, not as an AnalysisException
    val names = questions.map(_._1)
    require(names.distinct.size == names.size,
      s"askBatch question names must be distinct: $names")
    require(names.forall(_.matches("[A-Za-z][A-Za-z0-9_]*")),
      s"askBatch question names must be plain identifiers: $names")
    val preds = questions.map(_._2).distinct
    val scoped = triples.where(col("pred").isin(preds: _*))
    val inds = questions.map { case (name, p, o) =>
      // coalesce: an all-questioned-predicates-absent corpus aggregates
      // over zero rows — the answer is 0 (no match), never NULL
      coalesce(max(when(col("pred") === p &&
        o.map(col("obj") === _).getOrElse(lit(true)), 1L).otherwise(0L)),
        lit(0L)).as(name)
    }
    scoped.agg(inds.head, inds.tail: _*)
      .selectExpr(s"stack(${questions.size}, " +
        questions.map { case (n, _, _) => s"'$n', `$n`" }.mkString(", ") +
        ") as (question, answer)")
  }

  /** PROPERTY-TABLE export: pivot the tall (subj, pred, obj) relation into
    * one wide row per subject — the feature-store / ML-export shape
    * downstream trainers and dashboards consume (and the classic RDF
    * "property table" physical design). Single-valued predicates land as
    * plain columns (min is exact when the KG is functional — and the
    * deterministic pick if a malformed source ever double-asserts);
    * multi-valued ones as SORTED comma-joined strings (deterministic,
    * and oracle-comparable without array-type friction). Absent
    * single-valued predicates stay NULL; absent multi-valued ones are ''.
    *
    * Shape: ONE hash-agg over one pass of the triple relation — every
    * per-predicate column is a conditional aggregate, so there is no
    * per-predicate scan or self-join (the naive BGP formulation would
    * join the store once per column).
    */
  def propertyTable(triples: DataFrame): DataFrame = {
    def single(p: String) = min(when(col("pred") === p, col("obj")))
    def multi(p: String) = array_join(
      array_sort(collect_list(when(col("pred") === p, col("obj")))), ",")
    triples.groupBy(col("subj")).agg(
      single("hasTitle").as("title"),
      single("postedBy").as("company"),
      single("locatedIn").as("location"),
      single("hasWorkload").as("workload"),
      multi("requiresLanguage").as("languages"),
      multi("requiresSkill").as("skills"))
  }

  /** INCREMENTAL maintenance of the [[propertyTable]] materialized view —
    * the daily-shard path ([[graft.ops.IncrementalDedup]] discipline
    * applied to a wide aggregate): given the committed wide table, the
    * committed triple store, and a new triple shard, only the shard's
    * TOUCHED subjects are re-aggregated (their full triple set = one
    * left-semi probe of the store by the shard's subject list + the shard
    * itself); every untouched row passes through from the committed wide
    * table via one anti-join, never re-derived (the spec proves it by
    * corrupting an untouched stored row and watching the corruption
    * survive). `result ≡ propertyTable(base ∪ shard)` exactly — the
    * kg_cooc_increment / kg_card_sketch_increment merge-identity pairing.
    *
    * At production scale bucket the store AND the wide table by subj
    * (TableIO bucketing) so both the semi probe and the anti-join
    * co-locate without an exchange; the re-agg side is shard-sized.
    */
  def propertyTableIncrement(storedWide: DataFrame, baseTriples: DataFrame,
      shardTriples: DataFrame): DataFrame = {
    val touched = shardTriples.select(col("subj")).distinct()
    val rebuilt = propertyTable(
      baseTriples.join(touched, Seq("subj"), "left_semi")
        .select(col("subj"), col("pred"), col("obj"))
        .union(shardTriples.select(col("subj"), col("pred"), col("obj"))))
    storedWide.join(touched, Seq("subj"), "left_anti").union(rebuilt)
  }
}
