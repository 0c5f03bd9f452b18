package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.Pipeline
import graft.kg.expr.AhoCorasickMatches
import graft.kg.expr.functions.hash60
import graft.kg.extract.{Extractors, Media}
import graft.kg.io.{Dictionaries, GazetteerIO, SyntheticCorpus}
import graft.kg.schema.Schemas.Pred

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query runs off the driver's parquet tables under `sfDir`
  * (TESTDATA.md); the KG queries derive the canonical `postings` span table
  * deterministically from `documents` (SyntheticCorpus), so each extraction
  * result is computable analytically — that is what the DuckDB oracles below
  * do: they state the *expected* triples as closed-form arithmetic over
  * doc_id, independently of the Spark extraction code paths they verify.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("kg_all_triples")(spark, "/root/testdata/sf0.001")

  private def spans(s: SparkSession, dir: String): DataFrame =
    Extractors.textSpans(SyntheticCorpus.materializedPostings(s, dir))

  /** The deduplicated KG triples (subj, pred, obj) of `dir`'s postings. */
  private def kgTriples(s: SparkSession, dir: String): DataFrame =
    Pipeline.allTriples(
      SyntheticCorpus.materializedPostings(s, dir), Pipeline.defaultGazetteers(s))
      .select(col("subj"), col("pred"), col("obj"))

  /** The committed (pred, bucket)-partitioned triple store of `dir`'s
    * postings ([[graft.kg.query.TripleStore.materializedTripleTable]]),
    * read back with `pred`/`bucket` as partition columns.
    */
  private def committedTriples(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.kg.query.TripleStore.materializedTripleTable(
      s, Pipeline.allTriplesRaw(
        SyntheticCorpus.materializedPostings(s, dir),
        Pipeline.defaultGazetteers(s)), tag = dir))

  /** The committed (pred, bucket)-partitioned store unioned with the
    * metadata-sized is_a taxonomy — the input chain3, kg_describe,
    * kg_construct and kg_ask consume (the read path and the is_a
    * projection live only here).
    */
  private def committedTriplesWithOntology(s: SparkSession,
      dir: String): DataFrame = {
    import graft.kg.query.Ontology
    val ont = Ontology.taxonomyDf(s).select(col("child").as("subj"),
      lit("is_a").as("pred"), col("parent").as("obj"))
    committedTriples(s, dir).select(col("subj"), col("pred"), col("obj"))
      .union(ont)
  }
  /** The 3-hop chain over committed store (hop 1, partition-pruned) +
    * ontology is_a hops, OPTIONAL tail — shared by the two chain3 rows.
    */
  private def chain3(s: SparkSession, dir: String, p1: String): DataFrame =
    graft.kg.query.TripleStore.chainQuery3(
      committedTriplesWithOntology(s, dir), p1, "is_a", "is_a")

  /** The kg_ask question set — shared verbatim with the oracle:
    * (name, predicate, optional object constant). located_loc99 is the
    * planted NO (the corpus emits LOC00–LOC11 only): an ASK suite whose
    * every answer is 1 would verify nothing about the absent case.
    */
  private val askQuestions: Seq[(String, String, Option[String])] = Seq(
    ("any_posting_titled", "hasTitle", None),
    ("requires_s001", "requiresSkill", Some("S001")),
    ("located_loc99", "locatedIn", Some("LOC99")),
    ("skill_is_a_root", "is_a", Some("Skill")))

  /** The bucketed co-occurrence edge TABLE — the production entry every
    * ITERATED graph consumer below reads (pagerank/LPA/BFS/walk/peel
    * rounds re-join edges on `x` each iteration; against this layout the
    * edge side arrives partitioned and sorted FROM THE SCAN, no
    * per-iteration exchange). Build-once per (tag, buckets) via
    * [[graft.kg.graph.GraphOps.materializedEdgeTable]]; `kg_entity_pagerank`
    * deliberately stays on the in-session pinned-edges path as the
    * exploration-scale contrast (same oracle both ways).
    */
  private def entityEdges(s: SparkSession, dir: String): DataFrame =
    s.table(graft.kg.graph.GraphOps.materializedEdgeTable(
      s, kgTriples(s, dir), tag = dir))

  /** The WEIGHTED bucketed edge table — same production entry for the
    * weighted iterated consumers (weighted rank, shortest paths).
    */
  private def entityWeightedEdges(s: SparkSession, dir: String): DataFrame =
    s.table(graft.kg.graph.GraphOps.materializedWeightedEdgeTable(
      s, kgTriples(s, dir), tag = dir))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    kgQueries ++ OpsEntries.queries

  /** Build every one-time per-JVM artifact the queries read (the derived
    * postings table, the committed triple store, the bucketed edge table,
    * ANN indexes, the incremental-dedup base state) — [[Bench]] runs this
    * once, untimed, before the query loop, so each row measures the
    * steady-state operator cost; at production these are standing tables,
    * and conflating their one-time build into whichever query runs first
    * made rows incomparable across rounds.
    */
  def prestage(spark: SparkSession, dir: String): Unit = {
    val postings = SyntheticCorpus.materializedPostings(spark, dir)
    val gaz = Pipeline.defaultGazetteers(spark)
    graft.kg.query.TripleStore.materializedTripleTable(
      spark, Pipeline.allTriplesRaw(postings, gaz), tag = dir)
    val triples = Pipeline.allTriples(postings, gaz)
      .select(col("subj"), col("pred"), col("obj"))
    graft.kg.graph.GraphOps.materializedEdgeTable(spark, triples, tag = dir)
    graft.kg.graph.GraphOps.materializedWeightedEdgeTable(spark, triples, tag = dir)
    GazetteerIO.materializedSkillsTsv()
    OpsEntries.prestage(spark, dir)
  }

  private val kgQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- R1 upstream: HTML→spans on-ramp (tag-soup flattener over a ----------
    // deterministic HTML rendering of the documents; oracle states the
    // expected spans in closed form, so the pairing proves the flattener
    // inverts the rendering corpus-wide)
    "kg_html_spans" -> ((s, dir) =>
      graft.kg.io.HtmlSpans.flatten(graft.kg.io.HtmlSpans.htmlCorpus(
          s.read.parquet(s"$dir/documents.parquet")))
        .select(col("doc_id").as("subj"), explode(col("spans")).as("sp"))
        .select(col("subj"), col("sp.offset").cast("long").as("offset"),
          col("sp.kind").as("kind"), col("sp.text").as("text"),
          col("sp.media_ref").as("media_ref"))),
    // -- the stack-based event-stream parser (nested markup, HTML5
    // auto-close, media inside blocks): result-equal to the regex
    // flattener on this corpus — two plans, ONE closed-form oracle (the
    // gazetteer-trie pairing)
    "kg_html_spans_nested" -> ((s, dir) =>
      graft.kg.io.HtmlSpans.flattenNested(graft.kg.io.HtmlSpans.htmlCorpus(
          s.read.parquet(s"$dir/documents.parquet")))
        .select(col("doc_id").as("subj"), explode(col("spans")).as("sp"))
        .select(col("subj"), col("sp.offset").cast("long").as("offset"),
          col("sp.kind").as("kind"), col("sp.text").as("text"),
          col("sp.media_ref").as("media_ref"))),
    // -- derivation sanity: span/media counts per doc ------------------------
    "kg_postings_stats" -> ((s, dir) => {
      SyntheticCorpus.materializedPostings(s, dir).select(
        col("doc_id").as("subj"),
        size(col("spans")).cast("long").as("n_spans"),
        size(filter(col("spans"), x => x.getField("kind") === "media"))
          .cast("long").as("n_media"))
    }),
    // -- R5 workload regex ---------------------------------------------------
    "kg_workload" -> ((s, dir) =>
      Pipeline.workloadTriples(spans(s, dir))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- R4/R7 skill mentions: broadcast n-gram join -------------------------
    "kg_skills" -> ((s, dir) =>
      Pipeline.skillTriples(spans(s, dir), Dictionaries.skillsDf(s))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- same result through the skew-salted shuffle-join path ---------------
    "kg_skills_salted" -> ((s, dir) =>
      Pipeline.skillTriplesSalted(spans(s, dir), Dictionaries.skillsDf(s))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- same result through the broadcast Aho-Corasick trie expression ------
    "kg_skills_trie" -> ((s, dir) => {
      val aho = AhoCorasickMatches.matcher(
        s, Dictionaries.gazSkills.map(g => (g.surface, g.entity_id)))
      spans(s, dir).where(col("kind") === "li")
        .select(col("doc_id"), explode(aho(col("text"))).as("m"))
        .select(col("doc_id").as("subj"), lit(Pred.requiresSkill).as("pred"),
          col("m.entity_id").as("obj"))
        .distinct()
    }),
    // -- R6 languages --------------------------------------------------------
    "kg_languages" -> ((s, dir) =>
      Pipeline.languageTriples(spans(s, dir), Dictionaries.languagesDf(s))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- R9 locations --------------------------------------------------------
    "kg_locations" -> ((s, dir) =>
      Pipeline.locationTriples(spans(s, dir), Dictionaries.locationsDf(s))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- R8 company (legal-suffix regex + frequency argmax) ------------------
    "kg_company" -> ((s, dir) =>
      Pipeline.companyTriples(spans(s, dir), Dictionaries.companiesDf(s))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- R3/R10/R11 title (exact + Jaro-Winkler fuzzy + argmax) --------------
    "kg_title" -> ((s, dir) =>
      Pipeline.titleTriples(spans(s, dir), Dictionaries.titlesDf(s))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- R10's second scoring path: built-in levenshtein, normalized ---------
    // (same winners as the JW path on this corpus -> shares the oracle)
    "kg_title_lev" -> ((s, dir) =>
      Pipeline.titleTriplesLev(spans(s, dir), Dictionaries.titlesDf(s))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- R3 tag-weight + position scoring (h1-only corpus -> same oracle; ----
    // h2/position behavior pinned by golden fixtures)
    "kg_title_scored" -> ((s, dir) =>
      Pipeline.titleTriplesScored(spans(s, dir), Dictionaries.titlesDf(s))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- R6 depth: proficiency qualifiers ------------------------------------
    "kg_language_proficiency" -> ((s, dir) =>
      Pipeline.languageProficiencyTriples(spans(s, dir), Dictionaries.languagesDf(s))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- file-backed gazetteer path: TSV load -> prep validation -> the same -
    // broadcast mention join (shares the skills oracle)
    "kg_skills_gaz_file" -> ((s, dir) =>
      Pipeline.skillTriples(spans(s, dir),
        GazetteerIO.validated(
          GazetteerIO.fromText(s, GazetteerIO.materializedSkillsTsv()), "skills tsv"))
        .select(col("doc_id").as("subj"), col("pred"), col("obj"))),
    // -- R12 full union, dedup ----------------------------------------------
    "kg_all_triples" -> ((s, dir) => kgTriples(s, dir)),
    // -- full-fidelity triples incl. score + evidence offset (rows-only) -----
    "kg_triples_full" -> ((s, dir) =>
      Pipeline.allTriples(
        SyntheticCorpus.materializedPostings(s, dir), Pipeline.defaultGazetteers(s))),
    // -- R13 connected-components canonicalization ---------------------------
    "kg_canonical" -> ((s, dir) =>
      Pipeline.canonicalSurfaces(spans(s, dir), Dictionaries.titlesDf(s))),
    // the INCREMENTAL path to the same canonicalization: gazetteer clusters
    // are committed labels; corpus typo edges fold in via
    // ConnectedComponents.incremental (semi+anti join contact with state,
    // CC only over touched components). Shares kg_canonical's oracle.
    "kg_canonical_increment" -> ((s, dir) =>
      Pipeline.canonicalSurfacesIncremental(spans(s, dir), Dictionaries.titlesDf(s))),
    // -- graph analytics over the emitted KG: entity co-occurrence graph -----
    "kg_entity_pagerank" -> ((s, dir) =>
      graft.kg.graph.GraphOps.pagerankOnEdges(
        graft.kg.graph.GraphOps.pinnedEdges(kgTriples(s, dir)))),
    "kg_entity_triangles" -> ((s, dir) =>
      graft.kg.graph.GraphOps.trianglesOnEdges(
        graft.kg.graph.GraphOps.pinnedEdges(kgTriples(s, dir)))),
    "kg_entity_components" -> ((s, dir) =>
      graft.kg.graph.GraphOps.components(kgTriples(s, dir))),
    // the PRODUCTION physical path for the same logical pagerank: edges
    // materialized once as a bucketed-by-x sorted table, iterations join
    // against the scan layout (no per-iteration edge exchange). Result-equal
    // to kg_entity_pagerank by construction — shares its bit-exact oracle
    // (the kg_skills / kg_skills_trie two-plans-one-oracle pattern).
    "kg_entity_pagerank_bucketed" -> ((s, dir) => {
      val tbl = graft.kg.graph.GraphOps.materializedEdgeTable(
        s, kgTriples(s, dir), tag = dir)
      graft.kg.graph.GraphOps.pagerankOnEdges(s.table(tbl))
    }),
    // -- KG consumption: subject-star BGP over the COMMITTED (pred, bucket)-
    // partitioned triple store — "postings requiring skill S001 and language
    // LANG00; return title and location bindings". Each pattern is a
    // partition-pruned per-predicate scan (TripleStoreSpec asserts the
    // PartitionFilters); constraints are broadcast semi joins, bindings
    // chain on subj.
    "kg_star_query" -> ((s, dir) => {
      import graft.kg.query.TripleStore, TripleStore.TriplePattern
      TripleStore.starQuery(committedTriples(s, dir), Seq(
        TriplePattern("requiresSkill", obj = Some("S001")),
        TriplePattern("requiresLanguage", obj = Some("LANG00")),
        TriplePattern("hasTitle", bind = Some("title")),
        TriplePattern("locatedIn", bind = Some("loc"))))
    }),
    // -- SPARQL OPTIONAL: title required, location OPTIONAL (odd doc_ids
    // have no locatedIn triple — their rows keep a NULL loc)
    "kg_star_optional" -> ((s, dir) => {
      import graft.kg.query.TripleStore, TripleStore.TriplePattern
      TripleStore.starQuery(committedTriples(s, dir), Seq(
        TriplePattern("requiresSkill", obj = Some("S001")),
        TriplePattern("hasTitle", bind = Some("title")),
        TriplePattern("locatedIn", bind = Some("loc"), optional = true)))
    }),
    // -- catalog stats: the selectivity numbers the BGP planner orders by
    "kg_predicate_stats" -> ((s, dir) => {
      import graft.kg.query.TripleStore
      TripleStore.predicateStats(committedTriples(s, dir))
    }),
    // -- KMV sketch: the 10^12-row path for the same catalog stats --
    "kg_predicate_card_sketch" -> ((s, dir) => {
      import graft.kg.query.TripleStore
      TripleStore.predicateCardSketch(committedTriples(s, dir))
    }),
    // -- incremental sketch: shard sketches fold into stored state --
    "kg_card_sketch_increment" -> ((s, dir) => {
      import graft.kg.query.TripleStore
      val t = committedTriples(s, dir)
      // deterministic doc split: base "corpus" vs daily "shard"
      val side = pmod(hash60(col("subj")), lit(2L))
      TripleStore.estimateFromSketches(TripleStore.mergeKminSketches(
        TripleStore.predicateKminSketches(t.where(side === 0L)),
        TripleStore.predicateKminSketches(t.where(side === 1L))))
    }),
    // -- edge support/embeddedness: bridge-vs-clique edge classification --
    "kg_edge_support" -> ((s, dir) =>
      graft.kg.graph.GraphOps.edgeSupportOnEdges(
        graft.kg.graph.GraphOps.pinnedEdges(kgTriples(s, dir)))),
    // -- k-truss: edge-level community cores (k=3, convergence-checked) --
    "kg_entity_ktruss" -> ((s, dir) =>
      graft.kg.graph.GraphOps.ktrussOnEdges(entityEdges(s, dir))),
    // -- clustering coefficient: neighborhood interlinkedness per entity --
    "kg_clustering_coeff" -> ((s, dir) =>
      graft.kg.graph.GraphOps.clusteringCoefficient(kgTriples(s, dir))),
    // -- degree histogram: the hub-skew diagnostic for the entity graph --
    "kg_degree_hist" -> ((s, dir) =>
      graft.kg.graph.GraphOps.degreeHistogram(kgTriples(s, dir))),
    // -- sibling BGP: postings in the same city as S001-requiring postings
    "kg_sibling_query" -> ((s, dir) => {
      import graft.kg.query.TripleStore, TripleStore.TriplePattern
      TripleStore.siblingQuery(committedTriples(s, dir), via = "locatedIn",
        constraints = Seq(TriplePattern("requiresSkill", obj = Some("S001"))))
    }),
    // -- k-core: robustly-connected entities (k=2, convergence-checked) --
    "kg_entity_kcore" -> ((s, dir) =>
      graft.kg.graph.GraphOps.kcoreOnEdges(entityEdges(s, dir))),
    // -- HyperBall-style reach: per-entity 2-hop neighborhood size via ----
    // mergeable KMV bottom-k sketches (exact below k, estimated above)
    "kg_reach_sketch" -> ((s, dir) =>
      graft.kg.graph.GraphOps.reachSketchOnEdges(entityEdges(s, dir))),
    // -- harmonic centrality from the same sketch profile (telescoping ----
    // shell sum in integer e6 — HyperBall's headline application)
    "kg_harmonic_centrality" -> ((s, dir) =>
      graft.kg.graph.GraphOps.harmonicCentralityOnEdges(entityEdges(s, dir))),
    // -- lift-scored edges: association strength for graph pruning --
    "kg_edge_lift" -> ((s, dir) =>
      graft.kg.graph.GraphOps.edgeLift(kgTriples(s, dir))),
    // -- weighted shortest paths: converged min-cost from the seed set --
    "kg_entity_wsp" -> ((s, dir) =>
      graft.kg.graph.GraphOps.shortestPathsOnWeightedEdges(
        entityWeightedEdges(s, dir), seeds = Seq("S001", "LANG00"))),
    // -- BFS halo: hop distance from the same seed set, radius 4 --
    "kg_entity_bfs" -> ((s, dir) =>
      graft.kg.graph.GraphOps.bfsOnEdges(entityEdges(s, dir),
        seeds = Seq("S001", "LANG00"))),
    // -- personalized rank: "entities related to skill S001 / lang LANG00" --
    "kg_entity_pagerank_seeded" -> ((s, dir) =>
      graft.kg.graph.GraphOps.pagerankPersonalizedOnEdges(entityEdges(s, dir),
        seeds = Seq("S001", "LANG00"))),
    "kg_entity_pagerank_weighted" -> ((s, dir) =>
      graft.kg.graph.GraphOps.pagerankWeightedOnEdges(
        entityWeightedEdges(s, dir))),
    "kg_entity_pagerank_weighted_pinned" -> ((s, dir) =>
      graft.kg.graph.GraphOps.pagerankWeightedOnEdges(
        Pin(graft.kg.graph.GraphOps.coocEdgesWeighted(kgTriples(s, dir))))),
    // incremental co-occurrence maintenance: base = docs with id%5 != 4
    // plays the committed half-edge state; the id%5 == 4 shard folds in via
    // shard-local pair derivation + ONE anti-join (base never rescanned at
    // the mention level — co-occurrence is per-doc)
    "kg_cooc_increment" -> ((s, dir) => {
      val t = kgTriples(s, dir)
      graft.kg.graph.GraphOps.incrementalCoocEdges(
        graft.kg.graph.GraphOps.halfCoocEdges(
          t.where(pmod(col("subj").cast("long"), lit(5)) =!= 4)),
        t.where(pmod(col("subj").cast("long"), lit(5)) === 4))
    }),
    // -- R7 heading-proximity skills: range join on (doc_id, |offset diff|) --
    // in the synthetic corpus every skill li span lies within 3 offsets of a
    // footer anchor (nsk <= 3), so this shares the skills oracle
    "kg_skills_proximity" -> ((s, dir) => {
      val mentions = Extractors.proximityMentions(
        spans(s, dir), Dictionaries.skillsDf(s),
        anchorPredicate = col("kind") === "footer", k = 3)
      mentions.select(col("doc_id").as("subj"),
        lit(Pred.requiresSkill).as("pred"), col("entity_id").as("obj")).distinct()
    }),
    // -- ontology: transitive closure of the is_a taxonomy (metadata-sized) --
    "kg_taxonomy_closure" -> ((s, dir) => {
      import graft.kg.query.Ontology
      Ontology.transitiveClosure(Ontology.taxonomyDf(s))
    }),
    // -- RDFS-style entailment: triples + taxonomy-ancestor objects ----------
    // ("requiresSkill S007" entails "requiresSkill SCAT1"/"requiresSkill
    // Skill"); broadcast closure, ONE corpus-scale pass
    "kg_entailed_triples" -> ((s, dir) => {
      import graft.kg.query.Ontology
      Ontology.entailTriples(
        kgTriples(s, dir),
        Ontology.transitiveClosure(Ontology.taxonomyDf(s)))
    }),
    // -- label propagation: density-respecting communities (vs CC's ---------
    // reachability); deterministic min-label tie-break, 3 sync rounds
    // -- fixed-3-round LPA: the rounds ARE the contract (the BFS radius
    // precedent — synchronous LPA can oscillate, so unbounded fixpoint
    // iteration is not total); the converged sibling below is the
    // fixpoint semantics with the oscillation guard
    "kg_entity_lpa" -> ((s, dir) =>
      graft.kg.graph.GraphOps.labelPropagationOnEdges(entityEdges(s, dir))),
    "kg_entity_lpa_converged" -> ((s, dir) =>
      graft.kg.graph.GraphOps.labelPropagationConvergedOnEdges(entityEdges(s, dir))),
    // -- KG-embedding training data: filtered negative samples (TransE-style)
    "kg_negative_samples" -> ((s, dir) =>
      graft.kg.train.EmbeddingData.negativeSamples(
        kgTriples(s, dir),
        pred = "requiresSkill",
        vocab = graft.kg.io.Dictionaries.gazSkills.map(_.entity_id).distinct.sorted)),
    // -- head-corruption half of the Bordes protocol: the subject domain is
    // corpus-scale (doc ids 0..n-1), so the vocabulary is a spark.range
    // DataFrame joined by index — never driver state (one scalar count)
    "kg_negative_samples_subj" -> ((s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      graft.kg.train.EmbeddingData.negativeSamplesSubject(
        kgTriples(s, dir),
        pred = "requiresSkill",
        subjVocab = s.range(n).select(col("id").as("vi"),
          col("id").cast("string").as("v")),
        nVocab = n)
    }),
    // -- DeepWalk-style corpus: 2 deterministic hash-argmin walks per entity
    "kg_random_walks" -> ((s, dir) =>
      graft.kg.graph.GraphOps.randomWalksOnEdges(entityEdges(s, dir),
        walksPerNode = 2)),
    // -- word2vec trainer input: skip-gram pair counts over the walk corpus
    "kg_walk_pairs" -> ((s, dir) =>
      graft.kg.train.EmbeddingData.skipGramPairs(
        graft.kg.graph.GraphOps.randomWalksOnEdges(entityEdges(s, dir),
          walksPerNode = 2))),
    // -- feature-store export: one wide row per subject off the committed
    // store (single hash-agg of conditional aggregates, no per-column join)
    "kg_property_table" -> ((s, dir) => {
      import graft.kg.query.TripleStore
      TripleStore.propertyTable(committedTriples(s, dir))
    }),
    // incremental maintenance of the same view: base = docs with id%5 != 4
    // plays the committed state (wide table + store); the id%5 == 4 shard
    // folds in via touched-subject re-agg + anti-join pass-through.
    // Shares kg_property_table's from-scratch oracle — the merge identity.
    "kg_property_increment" -> ((s, dir) => {
      import graft.kg.query.TripleStore
      val t = committedTriples(s, dir).select(col("subj"), col("pred"), col("obj"))
      val isShard = pmod(col("subj").cast("long"), lit(5)) === 4
      val base = t.where(!isShard)
      TripleStore.propertyTableIncrement(
        TripleStore.propertyTable(base), base, t.where(isShard))
    }),
    // -- extraction-quality evaluation: the BASELINE P/R metric as a scale
    // operator, scored on a deterministically-degraded predictor (10%
    // hash-dropped FNs + the negative sampler's guaranteed FPs)
    "kg_eval_pr" -> ((s, dir) => {
      val gold = kgTriples(s, dir)
      val keepH = hash60(concat_ws("|", col("subj"), col("pred"), col("obj")))
      val kept = gold.where(pmod(keepH, lit(10L)) =!= 0)
      val fps = graft.kg.train.EmbeddingData.negativeSamples(
        gold, pred = "requiresSkill",
        vocab = graft.kg.io.Dictionaries.gazSkills.map(_.entity_id).distinct.sorted)
        .select(col("subj"), col("pred"), col("obj_neg").as("obj"))
      graft.kg.query.Eval.triplePR(kept.union(fps), gold)
    }),
    // -- link prediction: resource-allocation scores for the missing edges
    "kg_link_prediction" -> ((s, dir) =>
      graft.kg.graph.GraphOps.linkPredictionRA(kgTriples(s, dir))),
    // -- chain BGP through the ontology: each posting's skills WITH their
    // direct categories (?s requiresSkill ?o1 . ?o1 is_a ?o2)
    "kg_chain_query" -> ((s, dir) => {
      import graft.kg.query.{Ontology, TripleStore}
      val t = kgTriples(s, dir)
      val ont = Ontology.taxonomyDf(s).select(col("child").as("subj"),
        lit("is_a").as("pred"), col("parent").as("obj"))
      TripleStore.chainQuery(t.union(ont), "requiresSkill", "is_a")
    }),
    // -- 3-hop chain BGP with OPTIONAL tail, hop 1 partition-pruned off the
    // committed store: skill -> category -> super-category
    // (?s requiresSkill ?o1 . ?o1 is_a ?o2 . OPTIONAL { ?o2 is_a ?o3 })
    "kg_chain3_query" -> ((s, dir) =>
      chain3(s, dir, "requiresSkill")),
    // -- same shape where the chain DEAD-ENDS after two hops (language ->
    // Language root, which has no parent): every o3 is NULL, so the oracle
    // hash maximally separates OPTIONAL (left join) from a plain inner tail
    "kg_chain3_optional" -> ((s, dir) =>
      chain3(s, dir, "requiresLanguage")),
    // -- SPARQL DESCRIBE (entity page): symmetric hop 1 off a pushed
    // seed-IN filter, outbound-only hop 2 through one semi join — the
    // postings requiring S001/LANG00 with their full outbound pages, plus
    // the seeds' taxonomy parents (and THEIR parents at hop 2)
    "kg_describe" -> ((s, dir) => graft.kg.query.TripleStore.describe(
      committedTriplesWithOntology(s, dir), Seq("S001", "LANG00"))),
    // -- SPARQL CONSTRUCT: materialize the inferred requiresCategory
    // relation from the requiresSkill ∘ is_a path, back in triple shape
    "kg_construct" -> ((s, dir) => graft.kg.query.TripleStore.construct(
      committedTriplesWithOntology(s, dir),
      "requiresSkill", "is_a", "requiresCategory")),
    // -- SPARQL ASK, batched: four existence questions (incl. one
    // guaranteed-absent object) in one partition-pruned pass
    "kg_ask" -> ((s, dir) => graft.kg.query.TripleStore.askBatch(
      committedTriplesWithOntology(s, dir), askQuestions)),
    // -- multimodal: media spans + (stub) decoded metadata -------------------
    "kg_media_meta" -> ((s, dir) =>
      Media.metadata(SyntheticCorpus.materializedPostings(s, dir))),
    // -- multimodal: (stub) decode -> feature-extract/resize chain -----------
    "kg_media_features" -> ((s, dir) =>
      Media.features(SyntheticCorpus.materializedPostings(s, dir))),
    // -- multimodal: (stub) video frame sampling (explode fan-out) -----------
    "kg_media_frames" -> ((s, dir) =>
      Media.frameSample(SyntheticCorpus.materializedPostings(s, dir))))

  // ---- analytic DuckDB oracles --------------------------------------------

  private val subj = "CAST(doc_id AS VARCHAR) AS subj"

  private def skillIdxSql(j: String) =
    s"CASE WHEN (doc_id + 7*$j) % 5 = 0 THEN 0 ELSE (doc_id + 7*$j) % 30 END"

  private val skillsOracle =
    s"""SELECT DISTINCT $subj, 'requiresSkill' AS pred,
       | printf('S%03d', ${skillIdxSql("j")}) AS obj
       |FROM (SELECT doc_id, unnest(generate_series(0, doc_id % 4 - 1)) AS j
       |      FROM documents)""".stripMargin

  private val canonicalOracle: String = {
    val gazPairs = Dictionaries.gazTitles
      .filter(g => g.surface != g.canonical)
      .map(g => s"('${g.surface}', '${g.canonical}')")
    val typoPairs = Dictionaries.titles.zipWithIndex
      .map { case ((canon, _, typo), i) => s"($i, '$typo', '$canon')" }
    s"""WITH RECURSIVE gaz(src, dst) AS (
       |  SELECT * FROM (VALUES ${gazPairs.mkString(", ")}) v(src, dst)
       |), typos AS (
       |  SELECT DISTINCT t.typo AS src, t.canon AS dst
       |  FROM (VALUES ${typoPairs.mkString(", ")}) t(i, typo, canon)
       |  JOIN documents d ON d.doc_id % 7 = 3 AND d.doc_id % 20 = t.i
       |), edges AS (
       |  SELECT src, dst FROM gaz UNION SELECT src, dst FROM typos
       |), sym AS (
       |  SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges
       |), nodes AS (
       |  SELECT DISTINCT src AS n FROM sym
       |), reach(a, b) AS (
       |  SELECT n, n FROM nodes
       |  UNION
       |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
       |)
       |SELECT a AS surface, min(b) AS canonical FROM reach GROUP BY a""".stripMargin
  }

  /** Full-fidelity oracle for kg_triples_full: every (subj, pred, obj) of
    * kg_all_triples PLUS the score and evidence-offset columns, all stated
    * analytically. Span offsets follow the SyntheticCorpus layout: title at
    * 0; workload at 1 (iff d%3<2); language at 1+(d%3<2) (iff d%4<3);
    * hc = 1 + those two flags head spans; nb body spans with nm interleaved
    * media; nsk = d%4 skill spans at hc+nb+nm+j; footer location at
    * hc+nb+nm+nsk (iff d%2=0); footer company last. Fuzzy title scores for
    * typo docs (d%7=3) are stated via DuckDB's own jaro_winkler_similarity —
    * bit-identical to our JaroWinkler expression for all values >= 0.9 (both
    * use Winkler's original conventions; see JaroWinklerSpec).
    */
  private val triplesFullOracle: String = {
    val typoVals = Dictionaries.titles.zipWithIndex
      .map { case ((_, _, typo), i) => s"($i, '$typo')" }.mkString(", ")
    val surfVals = Dictionaries.gazTitles.map(g => s"('${g.surface}')").mkString(", ")
    s"""WITH geo AS (
       |  SELECT doc_id AS d,
       |    (len(string_split(text, ' ')) + 7) // 8 AS nb,
       |    len(list_filter(generate_series(0, (len(string_split(text, ' ')) + 7) // 8 - 1),
       |        i -> (doc_id + i) % 3 = 0)) AS nm,
       |    1 + (CASE WHEN doc_id % 3 < 2 THEN 1 ELSE 0 END)
       |      + (CASE WHEN doc_id % 4 < 3 THEN 1 ELSE 0 END) AS hc,
       |    doc_id % 4 AS nsk
       |  FROM documents
       |), typos(i, typo) AS (VALUES $typoVals),
       |surfaces(surface) AS (VALUES $surfVals),
       |typo_score AS (
       |  SELECT i, max(s) AS score FROM (
       |    SELECT t.i AS i, jaro_winkler_similarity(t.typo, g.surface) AS s
       |    FROM typos t JOIN surfaces g
       |      ON substr(t.typo, 1, 1) = substr(g.surface, 1, 1)
       |     AND abs(len(t.typo) - len(g.surface)) <= 6)
       |  WHERE s >= 0.9 GROUP BY i
       |)
       |SELECT subj, pred, obj, score, CAST(src_offset AS INTEGER) AS src_offset FROM (
       |  SELECT CAST(d AS VARCHAR) AS subj, 'hasTitle' AS pred,
       |    printf('T%03d', d % 20) AS obj,
       |    CASE WHEN d % 7 = 3 THEN ts.score ELSE 1.0 END AS score, 0 AS src_offset
       |  FROM geo LEFT JOIN typo_score ts ON ts.i = d % 20
       |  UNION ALL
       |  SELECT CAST(d AS VARCHAR), 'postedBy', printf('C%02d', d % 15), 1.0,
       |    hc + nb + nm + nsk + (CASE WHEN d % 2 = 0 THEN 1 ELSE 0 END)
       |  FROM geo
       |  UNION ALL
       |  SELECT CAST(d AS VARCHAR), 'locatedIn', printf('LOC%02d', (d // 2) % 12), 1.0,
       |    hc + nb + nm + nsk
       |  FROM geo WHERE d % 2 = 0
       |  UNION ALL
       |  SELECT CAST(d AS VARCHAR), 'requiresLanguage', l.obj, 1.0,
       |    1 + (CASE WHEN d % 3 < 2 THEN 1 ELSE 0 END)
       |  FROM geo JOIN (VALUES (0, 'LANG00'), (0, 'LANG01'), (2, 'LANG00'), (2, 'LANG01'),
       |                 (1, 'LANG02')) l(m, obj) ON d % 4 = l.m
       |  UNION ALL
       |  SELECT CAST(d AS VARCHAR), 'hasWorkload',
       |    CASE WHEN d % 3 = 0
       |         THEN printf('%d-%d', 20 + 10 * ((d // 3) % 8), 30 + 10 * ((d // 3) % 8))
       |         ELSE printf('%d-%d', 10 * ((d // 3) % 9 + 1), 10 * ((d // 3) % 9 + 1)) END,
       |    1.0, 1
       |  FROM geo WHERE d % 3 < 2
       |  UNION ALL
       |  SELECT CAST(d AS VARCHAR), 'requiresSkill',
       |    printf('S%03d', CASE WHEN (d + 7 * j) % 5 = 0 THEN 0 ELSE (d + 7 * j) % 30 END),
       |    1.0, hc + nb + nm + j
       |  FROM (SELECT d, hc, nb, nm, unnest(generate_series(0, nsk - 1)) AS j FROM geo)
       |)""".stripMargin
  }

  private val allTriplesOracle: String =
    s"""SELECT subj, pred, obj FROM (
       |  SELECT $subj, 'hasTitle' AS pred, printf('T%03d', doc_id % 20) AS obj FROM documents
       |  UNION ALL
       |  SELECT $subj, 'postedBy' AS pred, printf('C%02d', doc_id % 15) AS obj FROM documents
       |  UNION ALL
       |  SELECT $subj, 'locatedIn' AS pred, printf('LOC%02d', (doc_id // 2) % 12) AS obj
       |  FROM documents WHERE doc_id % 2 = 0
       |  UNION ALL
       |  SELECT $subj, 'requiresLanguage' AS pred, l.obj AS obj FROM documents d
       |  JOIN (VALUES (0, 'LANG00'), (0, 'LANG01'), (2, 'LANG00'), (2, 'LANG01'),
       |               (1, 'LANG02')) l(m, obj) ON d.doc_id % 4 = l.m
       |  UNION ALL
       |  SELECT $subj, 'hasWorkload' AS pred,
       |    CASE WHEN doc_id % 3 = 0
       |         THEN printf('%d-%d', 20 + 10 * ((doc_id // 3) % 8), 30 + 10 * ((doc_id // 3) % 8))
       |         ELSE printf('%d-%d', 10 * ((doc_id // 3) % 9 + 1), 10 * ((doc_id // 3) % 9 + 1))
       |    END AS obj
       |  FROM documents WHERE doc_id % 3 < 2
       |  UNION ALL
       |  SELECT DISTINCT $subj, 'requiresSkill' AS pred,
       |    printf('S%03d', ${skillIdxSql("j")}) AS obj
       |  FROM (SELECT doc_id, unnest(generate_series(0, doc_id % 4 - 1)) AS j FROM documents)
       |)""".stripMargin

  /** Shared CTE prefix for the graph-analytics oracles: the full triple
    * relation, its doc→entity projection, and the symmetric distinct
    * co-occurrence edge set with source degrees — stated from the same
    * closed-form triple oracle the kg_all_triples pairing verifies.
    */
  private val coocCtes: String =
    s"""WITH triples AS ($allTriplesOracle),
       |ent AS (SELECT DISTINCT subj AS d, obj AS e FROM triples),
       |edges AS (SELECT DISTINCT a.e AS x, b.e AS y
       |          FROM ent a JOIN ent b ON a.d = b.d AND a.e <> b.e),
       |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1)""".stripMargin

  /** Integer PageRank, the SAME three iterations unrolled (damping 85/100,
    * jump 150000, floor-div contributions) — bit-exact vs
    * GraphOps.pagerankOnEdges.
    */
  private val entityPagerankOracle: String = {
    def step(prev: String, out: String) =
      s"""$out AS (SELECT e.y AS n,
         |  CAST(150000 + sum((85 * r.r) // (100 * d.deg)) AS BIGINT) AS r
         |  FROM edges e JOIN $prev r ON e.x = r.n JOIN deg d ON e.x = d.x
         |  GROUP BY 1)""".stripMargin
    s"""$coocCtes,
       |r0 AS (SELECT x AS n, CAST(1000000 AS BIGINT) AS r FROM deg),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")}
       |SELECT n AS entity, r AS rank_e6 FROM r3""".stripMargin
  }

  /** Per-entity triangle counts from the plain x<y orientation — the Spark
    * side enumerates via the degree-ordered orientation; identical counts
    * is the orientation-independence the pairing proves.
    */
  private val entityTrianglesOracle: String =
    s"""$coocCtes,
       |und AS (SELECT x, y FROM edges WHERE x < y),
       |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
       |        FROM und e1 JOIN und e2 ON e1.y = e2.x
       |        JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y),
       |pern AS (SELECT a AS entity FROM tri UNION ALL SELECT b FROM tri
       |         UNION ALL SELECT c FROM tri)
       |SELECT entity, CAST(count(*) AS BIGINT) AS n_tri FROM pern GROUP BY 1""".stripMargin

  /** Weighted integer PageRank — the same three unrolled iterations with
    * rank flowing proportionally to co-occurrence strength w (distinct
    * co-mentioning docs per pair), contributions (85·r·w) // (100·wdeg).
    */
  private val entityPagerankWeightedOracle: String = {
    def step(prev: String, out: String) =
      s"""$out AS (SELECT e.y AS n,
         |  CAST(150000 + sum((85 * r.r * e.w) // (100 * d.wdeg)) AS BIGINT) AS r
         |  FROM wedges e JOIN $prev r ON e.x = r.n JOIN wdeg d ON e.x = d.x
         |  GROUP BY 1)""".stripMargin
    s"""WITH triples AS ($allTriplesOracle),
       |ent AS (SELECT DISTINCT subj AS d, obj AS e FROM triples),
       |whalf AS (SELECT least(a.e, b.e) AS x, greatest(a.e, b.e) AS y,
       |                 CAST(count(*) AS BIGINT) AS w
       |          FROM ent a JOIN ent b ON a.d = b.d AND a.e < b.e
       |          GROUP BY 1, 2),
       |wedges AS (SELECT x, y, w FROM whalf
       |           UNION ALL SELECT y, x, w FROM whalf),
       |wdeg AS (SELECT x, CAST(sum(w) AS BIGINT) AS wdeg FROM wedges GROUP BY 1),
       |r0 AS (SELECT x AS n, CAST(1000000 AS BIGINT) AS r FROM wdeg),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")}
       |SELECT n AS entity, r AS rank_e6 FROM r3""".stripMargin
  }

  /** Personalized integer PageRank — the SAME unrolled iterations as
    * [[entityPagerankOracle]] with the teleport term restricted to the seed
    * IN-list (init 1e6 on seeds, per-round jump 150000 on seeds) — bit-exact
    * vs GraphOps.pagerankPersonalizedOnEdges.
    */
  private val entityPagerankSeededOracle: String = {
    val seedsIn = "('S001', 'LANG00')"
    def step(prev: String, out: String) =
      s"""${out}f AS (SELECT e.y AS n,
         |  CAST(sum((85 * r.r) // (100 * d.deg)) AS BIGINT) AS f
         |  FROM edges e JOIN $prev r ON e.x = r.n JOIN deg d ON e.x = d.x
         |  GROUP BY 1),
         |$out AS (SELECT n,
         |  f + (CASE WHEN n IN $seedsIn THEN 150000 ELSE 0 END) AS r
         |  FROM ${out}f)""".stripMargin
    s"""$coocCtes,
       |r0 AS (SELECT x AS n,
       |  CAST(CASE WHEN x IN $seedsIn THEN 1000000 ELSE 0 END AS BIGINT) AS r
       |  FROM deg),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")}
       |SELECT n AS entity, CAST(r AS BIGINT) AS rank_e6 FROM r3""".stripMargin
  }

  /** Per-predicate catalog stats — also proves the committed store
    * round-trips the triple relation exactly (counts over the store ==
    * counts over the closed form).
    */
  private val predicateStatsOracle: String =
    s"""WITH triples AS ($allTriplesOracle)
       |SELECT pred, CAST(count(*) AS BIGINT) AS n_triples,
       |  CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
       |  CAST(count(DISTINCT obj) AS BIGINT) AS n_obj
       |FROM triples GROUP BY 1""".stripMargin

  /** KMV sketch stated declaratively: distinct portable-60-bit hashes per
    * predicate, ranked ascending, estimate (k−1)·2^60 // h_k in HUGEINT
    * (Spark side does the identical product in DECIMAL(38,0) and `div`s
    * back to long) — bit-exact because a set's bottom-k is derivation-
    * order-free.
    */
  private val predicateCardSketchOracle: String = {
    val M = "1152921504606846976" // 2^60
    def side(src: String, k: Int, tag: String) =
      s"""h$tag AS (SELECT DISTINCT pred,
         |  ${OpsEntries.duckHash60(src)} AS h FROM triples),
         |r$tag AS (SELECT pred, h,
         |  row_number() OVER (PARTITION BY pred ORDER BY h) AS rn FROM h$tag),
         |a$tag AS (SELECT pred, count(*) AS n,
         |  max(CASE WHEN rn = $k THEN h END) AS hk
         |  FROM r$tag WHERE rn <= $k GROUP BY 1)""".stripMargin
    s"""WITH triples AS ($allTriplesOracle),
       |${side("subj", 64, "su")},
       |${side("obj", 8, "ob")}
       |SELECT s.pred,
       |  CAST(CASE WHEN s.n < 64 THEN s.n
       |       ELSE (63::HUGEINT * $M) // greatest(s.hk, 1) END AS BIGINT) AS est_subj,
       |  CAST(CASE WHEN o.n < 8 THEN o.n
       |       ELSE (7::HUGEINT * $M) // greatest(o.hk, 1) END AS BIGINT) AS est_obj
       |FROM asu s JOIN aob o ON s.pred = o.pred""".stripMargin
  }

  /** Edge support/embeddedness from the plain x<y orientation (a<b<c in
    * the oracle's tri CTE, so edge credits are value-ordered for free) —
    * per-edge counts are orientation-independent, same proof obligation as
    * the per-node pairing.
    */
  private val edgeSupportOracle: String =
    s"""$coocCtes,
       |und AS (SELECT x, y FROM edges WHERE x < y),
       |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
       |        FROM und e1 JOIN und e2 ON e1.y = e2.x
       |        JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y),
       |es AS (SELECT a AS x, b AS y FROM tri
       |       UNION ALL SELECT b, c FROM tri
       |       UNION ALL SELECT a, c FROM tri),
       |sup AS (SELECT x, y, CAST(count(*) AS BIGINT) AS supp
       |        FROM es GROUP BY 1, 2)
       |SELECT u.x, u.y, COALESCE(s.supp, 0) AS supp,
       |  CAST(CASE WHEN dx.deg + dy.deg - 2 - COALESCE(s.supp, 0) <= 0 THEN 0
       |       ELSE (COALESCE(s.supp, 0) * 1000000)
       |            // (dx.deg + dy.deg - 2 - COALESCE(s.supp, 0))
       |       END AS BIGINT) AS emb_e6
       |FROM und u
       |JOIN deg dx ON u.x = dx.x
       |JOIN deg dy ON u.y = dy.x
       |LEFT JOIN sup s ON u.x = s.x AND u.y = s.y""".stripMargin

  /** k-truss (k=3) stated as the FIXPOINT itself, not a round-count: a
    * recursive CTE over DuckDB's working-table semantics (the recursive
    * reference sees only the previous round's rows) re-peels the last edge
    * set and emits the survivors only while the set still SHRINKS — so the
    * recursion runs exactly as many rounds as this input's cascades need,
    * with no unroll depth to keep in sync with the engine. At termination
    * the max-iter rows are either already the fixpoint (nothing removed)
    * or one filter away from the empty one, so `fix` applies the survivor
    * filter once more; final supports are counted within `fix`. Pairing
    * this with the engine's convergence-checked loop verifies the k-truss
    * DEFINITION, not merely two identically-truncated unrolls.
    */
  private val entityKtrussOracle: String = {
    def sup(rel: String) = {
      val tri = s"(SELECT e1.x AS a, e1.y AS b, e2.y AS c FROM $rel e1 " +
        s"JOIN $rel e2 ON e1.y = e2.x JOIN $rel e3 ON e3.x = e1.x AND e3.y = e2.y)"
      s"(SELECT x, y, CAST(count(*) AS BIGINT) AS supp FROM (" +
        s"SELECT t.a AS x, t.b AS y FROM $tri t " +
        s"UNION ALL SELECT t.b, t.c FROM $tri t " +
        s"UNION ALL SELECT t.a, t.c FROM $tri t) cr GROUP BY 1, 2)"
    }
    val surv = s"(SELECT e.x, e.y FROM peel e LEFT JOIN ${sup("peel")} s " +
      "ON e.x = s.x AND e.y = s.y WHERE COALESCE(s.supp, 0) >= 1)"
    s"""WITH RECURSIVE ${coocCtes.stripPrefix("WITH ")},
       |h0 AS MATERIALIZED (SELECT x, y FROM edges WHERE x < y),
       |peel(iter, x, y) AS (
       |  SELECT 0, x, y FROM h0
       |  UNION ALL
       |  SELECT p.iter + 1, p.x, p.y FROM peel p
       |  WHERE EXISTS (SELECT 1 FROM $surv sv WHERE sv.x = p.x AND sv.y = p.y)
       |    AND (SELECT count(*) FROM $surv sv2) < (SELECT count(*) FROM peel)
       |),
       |last AS MATERIALIZED (SELECT x, y FROM peel
       |        WHERE iter = (SELECT max(iter) FROM peel)),
       |fix AS MATERIALIZED (SELECT e.x, e.y FROM last e LEFT JOIN ${sup("last")} s
       |        ON e.x = s.x AND e.y = s.y WHERE COALESCE(s.supp, 0) >= 1)
       |SELECT f.x, f.y, COALESCE(s.supp, 0) AS supp
       |FROM fix f LEFT JOIN ${sup("fix")} s ON f.x = s.x AND f.y = s.y""".stripMargin
  }

  /** Clustering coefficient: the triangle CTEs + degrees + the identical
    * exact integer ratio — bit-exact.
    */
  private val clusteringCoeffOracle: String =
    s"""$coocCtes,
       |und AS (SELECT x, y FROM edges WHERE x < y),
       |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
       |        FROM und e1 JOIN und e2 ON e1.y = e2.x
       |        JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y),
       |pern AS (SELECT a AS entity FROM tri UNION ALL SELECT b FROM tri
       |         UNION ALL SELECT c FROM tri),
       |nt AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_tri
       |       FROM pern GROUP BY 1)
       |SELECT d.x AS entity, d.deg,
       |  COALESCE(nt.n_tri, 0) AS n_tri,
       |  CAST(CASE WHEN d.deg < 2 THEN 0
       |       ELSE (2 * COALESCE(nt.n_tri, 0) * 1000000)
       |            // (d.deg * (d.deg - 1)) END AS BIGINT) AS lcc_e6
       |FROM deg d LEFT JOIN nt ON d.x = nt.entity""".stripMargin

  /** Degree histogram with the binary-digit-count bucket (floor(log2) with
    * no float log) — exact on both engines.
    */
  private val degreeHistOracle: String =
    s"""$coocCtes
       |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_entities,
       |  CAST(min(deg) AS BIGINT) AS min_deg,
       |  CAST(max(deg) AS BIGINT) AS max_deg
       |FROM deg GROUP BY 1""".stripMargin

  /** Sibling (object-join) BGP stated declaratively: one EXISTS walking
    * seed-constraint → seed's via object → this row's via object — pairing
    * verifies [[graft.kg.query.TripleStore.siblingQuery]]'s two-semi-join
    * plan AND the committed store round-trip it reads.
    */
  private val siblingQueryOracle: String =
    s"""WITH triples AS ($allTriplesOracle)
       |SELECT v.subj, v.obj AS via_obj
       |FROM triples v
       |WHERE v.pred = 'locatedIn'
       |  AND EXISTS (SELECT 1 FROM triples s JOIN triples k
       |              ON k.subj = s.subj
       |              WHERE s.pred = 'locatedIn' AND s.obj = v.obj
       |                AND k.pred = 'requiresSkill' AND k.obj = 'S001')""".stripMargin

  /** Lift scoring stated declaratively: per-entity doc counts, the doc
    * total, and the co-mention weights from the same distinct (doc,
    * entity) relation; integer floor arithmetic matches GraphOps.edgeLift
    * bit-identically.
    */
  private val edgeLiftOracle: String =
    s"""WITH triples AS ($allTriplesOracle),
       |ent AS (SELECT DISTINCT subj AS d, obj AS e FROM triples),
       |m AS (SELECT e, CAST(count(*) AS BIGINT) AS m FROM ent GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS nd FROM ent),
       |whalf AS (SELECT least(a.e, b.e) AS x, greatest(a.e, b.e) AS y,
       |                 CAST(count(*) AS BIGINT) AS w
       |          FROM ent a JOIN ent b ON a.d = b.d AND a.e < b.e
       |          GROUP BY 1, 2)
       |SELECT h.x, h.y, h.w,
       |  CAST((n.nd * h.w * 1000000) // (mx.m * my.m) AS BIGINT) AS lift_e6
       |FROM whalf h JOIN m mx ON h.x = mx.e JOIN m my ON h.y = my.e
       |CROSS JOIN n""".stripMargin

  /** Multi-source BFS, the SAME 4 statically-unrolled frontier rounds as
    * GraphOps.bfsOnEdges (frontier = nodes at d = round-1; least() skips
    * NULL on both engines) — bit-exact.
    */
  private val entityBfsOracle: String = {
    val seedsIn = "('S001', 'LANG00')"
    def round(i: Int) =
      s"""p$i AS (SELECT e.y, min(d.d + 1) AS nd
         |        FROM edges e JOIN d${i - 1} d ON e.x = d.n
         |        WHERE d.d = ${i - 1} GROUP BY e.y),
         |d$i AS (SELECT d.n, least(d.d, p.nd) AS d
         |        FROM d${i - 1} d LEFT JOIN p$i p ON d.n = p.y)""".stripMargin
    s"""$coocCtes,
       |d0 AS (SELECT x AS n,
       |  CASE WHEN x IN $seedsIn THEN CAST(0 AS BIGINT) END AS d FROM deg),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |${round(4)}
       |SELECT n AS entity, CAST(d AS BIGINT) AS dist
       |FROM d4 WHERE d IS NOT NULL""".stripMargin
  }

  /** Weighted shortest paths stated as the Bellman–Ford FIXPOINT (the
    * recursive-working-table pattern of [[entityKcoreOracle]], carried on
    * the full node-distance relation): each recursive step relaxes the
    * previous round's distances over the cost edges and emits the new
    * distance table only while some node still improves — true min-cost
    * distances at any diameter, no relaxation count to keep in sync with
    * the engine's convergence-checked loop. Distances only ever decrease,
    * so max(iter) rows are the fixpoint (the guard stopped emitting
    * exactly when a round changed nothing).
    */
  private val entityWspOracle: String = {
    val seedsIn = "('S001', 'LANG00')"
    val relax = """(SELECT d.n, least(d.d, p.nd) AS d FROM peel d
      LEFT JOIN (SELECT e.y, min(d2.d + e.c) AS nd FROM ce e
                 JOIN peel d2 ON e.x = d2.n WHERE d2.d IS NOT NULL
                 GROUP BY e.y) p ON d.n = p.y)"""
    s"""WITH RECURSIVE triples AS ($allTriplesOracle),
       |ent AS (SELECT DISTINCT subj AS d, obj AS e FROM triples),
       |whalf AS (SELECT least(a.e, b.e) AS x, greatest(a.e, b.e) AS y,
       |                 CAST(count(*) AS BIGINT) AS w
       |          FROM ent a JOIN ent b ON a.d = b.d AND a.e < b.e
       |          GROUP BY 1, 2),
       |ce AS MATERIALIZED (
       |  SELECT x, y, 1000000 // w AS c FROM whalf
       |  UNION ALL SELECT y, x, 1000000 // w FROM whalf),
       |peel(iter, n, d) AS (
       |  SELECT 0, n, d FROM (SELECT DISTINCT x AS n,
       |    CASE WHEN x IN $seedsIn THEN CAST(0 AS BIGINT) END AS d FROM ce) d0
       |  UNION ALL
       |  SELECT p.iter + 1, r.n, r.d
       |  FROM $relax r JOIN peel p ON r.n = p.n
       |  WHERE EXISTS (SELECT 1 FROM $relax r2 JOIN peel q ON r2.n = q.n
       |                WHERE r2.d IS NOT NULL AND (q.d IS NULL OR r2.d < q.d))
       |)
       |SELECT n AS entity, CAST(d AS BIGINT) AS dist_e6
       |FROM peel
       |WHERE iter = (SELECT max(iter) FROM peel) AND d IS NOT NULL""".stripMargin
  }

  /** k-core (k=2) stated as the FIXPOINT itself (the [[entityKtrussOracle]]
    * recursive-working-table pattern): each recursive step re-peels the
    * previous round's edge set (degrees ≥ k survive, edges restrict to
    * surviving endpoints) and emits only while the set shrinks; `core`
    * applies the survivor filter once more to cover the peeled-to-empty
    * termination. No round count anywhere — this IS the k-core definition,
    * verified against the engine's convergence-checked peel.
    */
  private val entityKcoreOracle: String = {
    val surv = """(SELECT e.x, e.y FROM peel e
      WHERE e.x IN (SELECT x FROM peel GROUP BY x HAVING count(*) >= 2)
        AND e.y IN (SELECT x FROM peel GROUP BY x HAVING count(*) >= 2))"""
    s"""WITH RECURSIVE ${coocCtes.stripPrefix("WITH ")},
       |peel(iter, x, y) AS (
       |  SELECT 0, x, y FROM edges
       |  UNION ALL
       |  SELECT p.iter + 1, p.x, p.y FROM peel p
       |  WHERE EXISTS (SELECT 1 FROM $surv sv WHERE sv.x = p.x AND sv.y = p.y)
       |    AND (SELECT count(*) FROM $surv sv2) < (SELECT count(*) FROM peel)
       |),
       |last AS MATERIALIZED (SELECT x, y FROM peel
       |        WHERE iter = (SELECT max(iter) FROM peel)),
       |core AS (SELECT e.x, e.y FROM last e
       |         WHERE e.x IN (SELECT x FROM last GROUP BY x HAVING count(*) >= 2)
       |           AND e.y IN (SELECT x FROM last GROUP BY x HAVING count(*) >= 2))
       |SELECT x AS entity, CAST(count(*) AS BIGINT) AS deg_in_core
       |FROM core GROUP BY 1""".stripMargin
  }

  /** Neighborhood-function sketch stated declaratively: the EXACT closed
    * 2-hop neighborhood per node (self ∪ N ∪ N∘N over the symmetric
    * edges), hashed with the portable 60-bit md5, ranked ascending, and
    * fed through the identical KMV estimator ((k−1)·2^60 // h_k in
    * HUGEINT, exact count below k) — bit-exact because bottom-k of a set
    * is derivation-order-free, so the engine's iterative sketch merges
    * must land on exactly these k hashes.
    */
  /** Shared CTE chain: exact closed 1-hop/2-hop neighborhoods over the
    * symmetric edges, hashed, ranked, and reduced to per-radius KMV
    * estimates `q1.est` / `q2.est` (exact count below k=8) — the inputs of
    * both sketch oracles.
    */
  private val reachEstCtes: String = {
    val M = "1152921504606846976" // 2^60
    def estCtes(rel: String, tag: String) =
      s"""h$tag AS (SELECT DISTINCT v, ${OpsEntries.duckHash60("u")} AS h
         |          FROM $rel),
         |rk$tag AS (SELECT v, h,
         |       row_number() OVER (PARTITION BY v ORDER BY h) AS rn FROM h$tag),
         |q$tag AS (SELECT v, CAST(CASE WHEN n < 8 THEN n
         |            ELSE (7::HUGEINT * $M) // greatest(hk, 1) END AS BIGINT) AS est
         |       FROM (SELECT v, count(*) AS n,
         |             max(CASE WHEN rn = 8 THEN h END) AS hk
         |             FROM rk$tag WHERE rn <= 8 GROUP BY 1))""".stripMargin
    s"""$coocCtes,
       |r1 AS (SELECT x AS v, y AS u FROM edges
       |       UNION SELECT x, x FROM edges),
       |r2 AS (SELECT a.v, e.y AS u FROM r1 a JOIN edges e ON a.u = e.x
       |       UNION SELECT v, u FROM r1),
       |${estCtes("r1", "1")},
       |${estCtes("r2", "2")}""".stripMargin
  }

  private val reachSketchOracle: String =
    s"""$reachEstCtes
       |SELECT v AS entity, est AS reach_est FROM q2""".stripMargin

  /** Harmonic centrality from the same per-radius estimates: the identical
    * clamped telescoping shell sum in HUGEINT, floor-divided per shell.
    */
  private val harmonicCentralityOracle: String =
    s"""$reachEstCtes
       |SELECT q1.v AS entity, q1.est AS est_r1, q2.est AS est_r2,
       |  CAST(CAST(greatest(0, q1.est - 1) AS HUGEINT) * 1000000 // 1
       |     + CAST(greatest(0, q2.est - q1.est) AS HUGEINT) * 1000000 // 2
       |    AS BIGINT) AS harm_e6
       |FROM q1 JOIN q2 ON q1.v = q2.v""".stripMargin

  /** Subject-star BGP stated declaratively over the same closed-form triple
    * relation: one EXISTS per constraint pattern, one self-join per binding
    * — verifying both the [[graft.kg.query.TripleStore.starQuery]] join
    * plan AND that the committed (pred, bucket)-partitioned store it reads
    * round-trips the triple relation exactly.
    */
  private val starQueryOracle: String =
    s"""WITH triples AS ($allTriplesOracle)
       |SELECT t.subj, t.obj AS title, l.obj AS loc
       |FROM triples t
       |JOIN triples l ON l.subj = t.subj AND l.pred = 'locatedIn'
       |WHERE t.pred = 'hasTitle'
       |  AND EXISTS (SELECT 1 FROM triples s WHERE s.subj = t.subj
       |              AND s.pred = 'requiresSkill' AND s.obj = 'S001')
       |  AND EXISTS (SELECT 1 FROM triples g WHERE g.subj = t.subj
       |              AND g.pred = 'requiresLanguage' AND g.obj = 'LANG00')""".stripMargin

  /** Incremental co-occurrence edges — declaratively, the shard-derived
    * half-pair set minus the base-derived one (EXCEPT); the engine computes
    * it without touching base mentions (shard-local derivation + one
    * anti-join against the stored half relation).
    */
  private val coocIncrementOracle: String =
    s"""WITH triples AS ($allTriplesOracle),
       |ent AS (SELECT DISTINCT subj AS d, obj AS e FROM triples),
       |basehalf AS (SELECT DISTINCT least(a.e, b.e) AS x, greatest(a.e, b.e) AS y
       |             FROM ent a JOIN ent b ON a.d = b.d AND a.e < b.e
       |             WHERE CAST(a.d AS BIGINT) % 5 <> 4),
       |shardhalf AS (SELECT DISTINCT least(a.e, b.e) AS x, greatest(a.e, b.e) AS y
       |              FROM ent a JOIN ent b ON a.d = b.d AND a.e < b.e
       |              WHERE CAST(a.d AS BIGINT) % 5 = 4)
       |SELECT x, y FROM shardhalf EXCEPT SELECT x, y FROM basehalf""".stripMargin

  /** Entity communities — reachability closure over the symmetric
    * co-occurrence edges, min member as the component label; entities with
    * no edge (none in the synthetic KG's closed form, but the seed keeps
    * them) label themselves. Verifies the iterative large-star/small-star
    * fixed point against the DECLARATIVE transitive-closure definition.
    */
  private val entityComponentsOracle: String =
    s"""WITH RECURSIVE ${coocCtes.stripPrefix("WITH ")},
       |nodes AS (SELECT DISTINCT obj AS n FROM triples),
       |reach(a, b) AS (
       |  SELECT n, n FROM nodes
       |  UNION
       |  SELECT r.a, e.y FROM reach r JOIN edges e ON r.b = e.x
       |)
       |SELECT a AS entity, min(b) AS component FROM reach GROUP BY a""".stripMargin

  /** The taxonomy VALUES list, embedded verbatim from the single source
    * ([[graft.kg.query.Ontology.taxonomy]]) — the canonicalOracle/gazPairs
    * pattern.
    */
  private def taxonomyValues: String =
    graft.kg.query.Ontology.taxonomy
      .map { case (c, p) => s"('$c', '$p')" }.mkString(", ")

  /** Transitive closure of the is_a taxonomy stated as a recursive CTE —
    * verifies the convergence-checked extension joins of
    * [[graft.kg.query.Ontology.transitiveClosure]] against the declarative
    * reachability definition.
    */
  private val taxonomyClosureOracle: String =
    s"""WITH RECURSIVE tax(child, parent) AS (
       |  SELECT * FROM (VALUES $taxonomyValues) v(child, parent)
       |), reach(child, anc) AS (
       |  SELECT child, parent FROM tax
       |  UNION
       |  SELECT r.child, t.parent FROM reach r JOIN tax t ON r.anc = t.child
       |)
       |SELECT child, anc FROM reach""".stripMargin

  /** RDFS-style entailment: the closed-form triples UNION one triple per
    * taxonomy ancestor of each object (declarative recursive closure) —
    * verifies the broadcast-join entailment pass.
    */
  private val entailedTriplesOracle: String =
    s"""WITH RECURSIVE triples AS ($allTriplesOracle),
       |tax(child, parent) AS (
       |  SELECT * FROM (VALUES $taxonomyValues) v(child, parent)
       |), reach(child, anc) AS (
       |  SELECT child, parent FROM tax
       |  UNION
       |  SELECT r.child, t.parent FROM reach r JOIN tax t ON r.anc = t.child
       |)
       |SELECT subj, pred, obj FROM triples
       |UNION
       |SELECT t.subj, t.pred, r.anc AS obj
       |FROM triples t JOIN reach r ON t.obj = r.child""".stripMargin

  /** Label propagation, the SAME 3 statically-unrolled synchronous rounds
    * as GraphOps.labelPropagationOnEdges (neighbor-label count → max count
    * → min label among ties) — bit-exact. MATERIALIZED on the per-round CTEs:
    * each is referenced twice by the next round; un-hinted, DuckDB
    * re-inlines the upstream chain per reference (the ktruss/kcore
    * lesson).
    */
  private val entityLpaOracle: String = {
    def round(prev: String, i: Int) =
      s"""c$i AS MATERIALIZED (SELECT e.y, l.lab, CAST(count(*) AS BIGINT) AS c
         |        FROM edges e JOIN $prev l ON e.x = l.n GROUP BY 1, 2),
         |m$i AS (SELECT y, max(c) AS mc FROM c$i GROUP BY 1),
         |l$i AS MATERIALIZED (SELECT c.y AS n, min(c.lab) AS lab
         |        FROM c$i c JOIN m$i m ON c.y = m.y AND c.c = m.mc
         |        GROUP BY 1)""".stripMargin
    s"""$coocCtes,
       |l0 AS (SELECT x AS n, x AS lab FROM deg),
       |${round("l0", 1)},
       |${round("l1", 2)},
       |${round("l2", 3)}
       |SELECT n AS entity, lab AS label FROM l3""".stripMargin
  }

  /** FIXPOINT LPA with the 2-cycle guard, full mechanics in SQL: the
    * recursive working table carries (label, previous-round label); a
    * round is emitted only while the next state differs from BOTH (not a
    * fixpoint, not a 2-cycle — the same stop rule as
    * GraphOps.labelPropagationConvergedOnEdges). The answer is the
    * elementwise min-label merge of the final state with one more step:
    * at a fixpoint that is the state itself; on a 2-cycle it is the
    * deterministic merge of the two alternating states.
    */
  private val entityLpaConvergedOracle: String =
    s"""WITH RECURSIVE ${coocCtes.stripPrefix("WITH ")},
       |lpa(n, lab, plab, r) AS (
       |  SELECT x AS n, x AS lab, CAST(NULL AS VARCHAR) AS plab, 0 AS r FROM deg
       |  UNION ALL
       |  SELECT q.n, q.nlab, q.lab, q.r + 1 FROM (
       |    WITH cnt AS (SELECT e.y, l.lab, CAST(count(*) AS BIGINT) AS c
       |                 FROM edges e JOIN lpa l ON e.x = l.n GROUP BY 1, 2),
       |         nxt AS (SELECT c.y AS n, min(c.lab) AS nlab
       |                 FROM cnt c JOIN (SELECT y, max(c) AS mc FROM cnt GROUP BY 1) m
       |                   ON c.y = m.y AND c.c = m.mc GROUP BY 1),
       |         j AS (SELECT x.n, x.nlab, w.lab, w.plab, w.r
       |               FROM nxt x JOIN lpa w ON x.n = w.n),
       |         g AS (SELECT bool_or(nlab <> lab) AS changed,
       |                      bool_or(plab IS NULL OR nlab <> plab) AS notcycle
       |               FROM j)
       |    SELECT j.n, j.nlab, j.lab, j.r FROM j, g WHERE g.changed AND g.notcycle
       |  ) q
       |),
       |fin AS (SELECT n, lab FROM lpa WHERE r = (SELECT max(r) FROM lpa)),
       |cntf AS (SELECT e.y, l.lab, CAST(count(*) AS BIGINT) AS c
       |         FROM edges e JOIN fin l ON e.x = l.n GROUP BY 1, 2),
       |nxtf AS (SELECT c.y AS n, min(c.lab) AS nlab
       |         FROM cntf c JOIN (SELECT y, max(c) AS mc FROM cntf GROUP BY 1) m
       |           ON c.y = m.y AND c.c = m.mc GROUP BY 1)
       |SELECT f.n AS entity, least(f.lab, x.nlab) AS label
       |FROM fin f JOIN nxtf x ON f.n = x.n""".stripMargin

  /** CTE chain for the filtered negative samples (identical portable
    * md5-60 corruption index mod 30 + the NOT EXISTS filter) — shared by
    * the negative-sampling and evaluation oracles.
    */
  private val negFilteredCtes: String = {
    val h = OpsEntries.duckHash60("subj || '|' || obj || '|' || CAST(j AS VARCHAR)")
    s"""pos AS (SELECT subj, pred, obj FROM triples WHERE pred = 'requiresSkill'),
       |cand AS (
       |  SELECT subj, pred, obj, CAST(j AS BIGINT) AS neg_i,
       |    printf('S%03d', $h % 30) AS obj_neg
       |  FROM (SELECT subj, pred, obj, unnest(generate_series(0, 1)) AS j FROM pos)
       |),
       |negs AS (
       |  SELECT c.subj, c.pred, c.obj, c.obj_neg, c.neg_i
       |  FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM pos p
       |                    WHERE p.subj = c.subj AND p.obj = c.obj_neg))""".stripMargin
  }

  /** 3-hop chain with OPTIONAL tail, stated declaratively: two taxonomy
    * joins off the same closed-form triples, the second LEFT (a chain
    * that dead-ends after two hops keeps its row with o3 NULL).
    */
  private def chain3Oracle(p1: String): String =
    s"""WITH triples AS ($allTriplesOracle),
       |tax(child, parent) AS (SELECT * FROM (VALUES $taxonomyValues) v(child, parent))
       |SELECT t.subj, t.obj AS o1, x.parent AS o2, y.parent AS o3
       |FROM triples t
       |JOIN tax x ON t.obj = x.child
       |LEFT JOIN tax y ON x.parent = y.child
       |WHERE t.pred = '$p1'""".stripMargin

  /** Bit-exact vs EmbeddingData.negativeSamples. */
  private val negativeSamplesOracle: String =
    s"""WITH triples AS ($allTriplesOracle),
       |$negFilteredCtes
       |SELECT subj, pred, obj, obj_neg, neg_i FROM negs""".stripMargin

  /** Bit-exact vs EmbeddingData.negativeSamplesSubject: same md5-60
    * corruption discipline with the 's' side tag, index mod the document
    * count, head filter = NOT EXISTS on (subj_neg, obj).
    */
  private val negativeSamplesSubjOracle: String = {
    val h = OpsEntries.duckHash60(
      "subj || '|' || obj || '|' || CAST(j AS VARCHAR) || '|s'")
    s"""WITH triples AS ($allTriplesOracle),
       |pos AS (SELECT subj, pred, obj FROM triples WHERE pred = 'requiresSkill'),
       |cand AS (
       |  SELECT subj, pred, obj, CAST(j AS BIGINT) AS neg_i,
       |    CAST($h % (SELECT count(*) FROM documents) AS VARCHAR) AS subj_neg
       |  FROM (SELECT subj, pred, obj, unnest(generate_series(0, 1)) AS j FROM pos)
       |)
       |SELECT c.subj, c.pred, c.obj, c.subj_neg, c.neg_i
       |FROM cand c
       |WHERE NOT EXISTS (SELECT 1 FROM pos p
       |                  WHERE p.subj = c.subj_neg AND p.obj = c.obj)""".stripMargin
  }

  /** Triple-level P/R/F1 of the deterministically-degraded predictor
    * (hash-dropped 10% false negatives + the negative sampler's
    * guaranteed-false positives) against the closed-form gold — the
    * identical set arithmetic and integer fixed-point ratios as
    * Eval.triplePR.
    */
  private val evalPrOracle: String = {
    val keepH = OpsEntries.duckHash60("subj || '|' || pred || '|' || obj")
    s"""WITH triples AS ($allTriplesOracle),
       |$negFilteredCtes,
       |kept AS (SELECT subj, pred, obj FROM triples WHERE $keepH % 10 <> 0),
       |p AS (SELECT DISTINCT subj, pred, obj FROM
       |      (SELECT subj, pred, obj FROM kept
       |       UNION ALL SELECT subj, pred, obj_neg AS obj FROM negs)),
       |g AS (SELECT DISTINCT subj, pred, obj FROM triples),
       |tp AS (SELECT p.pred, CAST(count(*) AS BIGINT) AS tp FROM p
       |       WHERE EXISTS (SELECT 1 FROM g WHERE g.subj = p.subj
       |                     AND g.pred = p.pred AND g.obj = p.obj)
       |       GROUP BY 1),
       |np AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_pred FROM p GROUP BY 1),
       |ng AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_gold FROM g GROUP BY 1),
       |m AS (SELECT ng.pred, COALESCE(np.n_pred, 0) AS n_pred, ng.n_gold,
       |             COALESCE(tp.tp, 0) AS tp
       |      FROM ng LEFT JOIN np ON ng.pred = np.pred
       |      LEFT JOIN tp ON ng.pred = tp.pred),
       |r AS (SELECT pred, n_pred, n_gold, tp,
       |        CASE WHEN n_pred > 0 THEN (tp * 1000000) // n_pred ELSE 0 END AS p_e6,
       |        CASE WHEN n_gold > 0 THEN (tp * 1000000) // n_gold ELSE 0 END AS r_e6
       |      FROM m)
       |SELECT pred, n_pred, n_gold, tp, p_e6, r_e6,
       |  CASE WHEN p_e6 + r_e6 > 0 THEN (2 * p_e6 * r_e6) // (p_e6 + r_e6)
       |       ELSE 0 END AS f1_e6
       |FROM r""".stripMargin
  }

  /** Deterministic random walks, the SAME 3 statically-unrolled hash-argmin
    * steps as GraphOps.randomWalksOnEdges (min 60-bit hash per walk → min
    * neighbor among ties) — bit-exact. Split as CTE chain + final select so
    * [[walkPairsOracle]] reuses the identical walk derivation.
    */
  private val randomWalksCtes: String = {
    def step(prev: String, i: Int) = {
      val h = OpsEntries.duckHash60(s"w.walk_id || '|$i|' || e.y")
      s"""cnd$i AS MATERIALIZED (SELECT w.walk_id, e.y, $h AS h
         |         FROM $prev w JOIN edges e ON w.cur = e.x),
         |mh$i AS (SELECT walk_id, min(h) AS mh FROM cnd$i GROUP BY 1),
         |w$i AS MATERIALIZED (SELECT c.walk_id, min(c.y) AS cur
         |         FROM cnd$i c JOIN mh$i m
         |           ON c.walk_id = m.walk_id AND c.h = m.mh
         |         GROUP BY 1)""".stripMargin
    }
    s"""$coocCtes,
       |w0 AS (SELECT CAST(length(d.x) AS VARCHAR) || ':' || d.x || '#' ||
       |              CAST(r.r AS VARCHAR) AS walk_id, d.x AS cur
       |       FROM deg d CROSS JOIN
       |         (SELECT unnest(generate_series(0, 1)) AS r) r),
       |${step("w0", 1)},
       |${step("w1", 2)},
       |${step("w2", 3)},
       |walks AS (
       |  SELECT walk_id, CAST(0 AS BIGINT) AS step, cur AS node FROM w0
       |  UNION ALL SELECT walk_id, CAST(1 AS BIGINT), cur FROM w1
       |  UNION ALL SELECT walk_id, CAST(2 AS BIGINT), cur FROM w2
       |  UNION ALL SELECT walk_id, CAST(3 AS BIGINT), cur FROM w3
       |)""".stripMargin
  }

  private val randomWalksOracle: String =
    s"""$randomWalksCtes
       |SELECT walk_id, step, node FROM walks""".stripMargin

  /** Skip-gram pair counts over the identical walk derivation: one
    * self-join on walk_id within ±2 positions + count — bit-exact vs
    * EmbeddingData.skipGramPairs(GraphOps.randomWalksOnEdges(...)).
    */
  private val walkPairsOracle: String =
    s"""$randomWalksCtes
       |SELECT a.node AS center, b.node AS context,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM walks a JOIN walks b ON a.walk_id = b.walk_id
       |WHERE a.step <> b.step AND abs(a.step - b.step) <= 2
       |GROUP BY 1, 2""".stripMargin

  /** Property-table pivot stated with FILTERed aggregates over the same
    * closed-form triples (string_agg ORDER BY = the engine's sorted
    * array_join; '' for absent multi-valued predicates on both sides) —
    * also re-proves the committed store round-trip it reads.
    */
  private val propertyTableOracle: String =
    s"""WITH triples AS ($allTriplesOracle)
       |SELECT subj,
       |  min(obj) FILTER (WHERE pred = 'hasTitle') AS title,
       |  min(obj) FILTER (WHERE pred = 'postedBy') AS company,
       |  min(obj) FILTER (WHERE pred = 'locatedIn') AS location,
       |  min(obj) FILTER (WHERE pred = 'hasWorkload') AS workload,
       |  COALESCE(string_agg(obj, ',' ORDER BY obj)
       |    FILTER (WHERE pred = 'requiresLanguage'), '') AS languages,
       |  COALESCE(string_agg(obj, ',' ORDER BY obj)
       |    FILTER (WHERE pred = 'requiresSkill'), '') AS skills
       |FROM triples GROUP BY subj""".stripMargin

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = kgOracles ++ OpsEntries.oracleSql

  /** Closed-form expected spans of HtmlSpans.htmlCorpus — shared by
    * BOTH flatteners (kg_html_spans / kg_html_spans_nested): the regex
    * and the event-stream parser are result-equal plans over this
    * corpus, proven against one oracle (the gazetteer-trie pairing).
    */
  private val htmlSpansOracle: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ts,
        |                  ((len(string_split(text, ' ')) + 7) // 8) AS nb
        |           FROM documents),
        |parts AS (
        |  SELECT doc_id, -1 AS ord, 'title' AS kind,
        |         'posting ' || CAST(doc_id AS VARCHAR) AS text,
        |         '' AS media_ref
        |  FROM t
        |  UNION ALL
        |  -- unclosed <li> chunks (i%4=1, i%8=5, no trailing img) terminate
        |  -- at the NEXT OPEN TAG; their text carries the separator newline
        |  SELECT doc_id, 2 * i, CASE WHEN i % 4 = 1 THEN 'li' ELSE 'p' END,
        |         array_to_string(ts[i * 8 + 1 : i * 8 + 8], ' ') ||
        |           CASE WHEN i % 4 = 1 AND i % 8 = 5 AND (doc_id + i) % 3 <> 0
        |                THEN chr(10) ELSE '' END, ''
        |  FROM (SELECT doc_id, ts, unnest(generate_series(0, nb - 1)) AS i FROM t)
        |  UNION ALL
        |  SELECT doc_id, 2 * i + 1, 'media', '',
        |         'img://' || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
        |  FROM (SELECT doc_id, unnest(generate_series(0, nb - 1)) AS i FROM t)
        |  WHERE (doc_id + i) % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 1000000000, 'footer', 'src ' || source, '' FROM t
        |)
        |SELECT CAST(doc_id AS VARCHAR) AS subj,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
        |    AS BIGINT) AS offset,
        |  kind, text, media_ref
        |FROM parts""".stripMargin

  private val kgOracles: Map[String, String] = Map(
    // expected spans of HtmlSpans.htmlCorpus in closed form (title at ord
    // -1, chunk i at 2i, its media at 2i+1, footer last; offset by dense
    // per-doc rank) — no HTML appears here, so the pairing proves the
    // Spark-side flattener inverts the Spark-side rendering exactly
    "kg_html_spans" -> htmlSpansOracle,
    // the event-stream parser is result-equal on this corpus: same oracle
    "kg_html_spans_nested" -> htmlSpansOracle,
    "kg_postings_stats" ->
      s"""SELECT $subj,
         | CAST(2 + (CASE WHEN doc_id % 3 = 2 THEN 0 ELSE 1 END)
         |   + (CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END)
         |   + nb + nm + doc_id % 4
         |   + (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
         | CAST(nm AS BIGINT) AS n_media
         |FROM (SELECT doc_id,
         |        ((len(string_split(text, ' ')) + 7) // 8) AS nb,
         |        len(list_filter(generate_series(0, ((len(string_split(text, ' ')) + 7) // 8) - 1),
         |            i -> (doc_id + i) % 3 = 0)) AS nm
         |      FROM documents)""".stripMargin,
    "kg_workload" ->
      s"""SELECT $subj, 'hasWorkload' AS pred,
         | CASE WHEN doc_id % 3 = 0
         |      THEN printf('%d-%d', 20 + 10 * ((doc_id // 3) % 8), 30 + 10 * ((doc_id // 3) % 8))
         |      ELSE printf('%d-%d', 10 * ((doc_id // 3) % 9 + 1), 10 * ((doc_id // 3) % 9 + 1))
         | END AS obj
         |FROM documents WHERE doc_id % 3 < 2""".stripMargin,
    "kg_skills" -> skillsOracle,
    "kg_skills_salted" -> skillsOracle,
    "kg_skills_trie" -> skillsOracle,
    "kg_skills_proximity" -> skillsOracle,
    "kg_languages" ->
      s"""SELECT $subj, 'requiresLanguage' AS pred, l.obj AS obj
         |FROM documents d
         |JOIN (VALUES (0, 'LANG00'), (0, 'LANG01'), (2, 'LANG00'), (2, 'LANG01'),
         |             (1, 'LANG02')) l(m, obj)
         |  ON d.doc_id % 4 = l.m""".stripMargin,
    "kg_locations" ->
      s"""SELECT $subj, 'locatedIn' AS pred,
         | printf('LOC%02d', (doc_id // 2) % 12) AS obj
         |FROM documents WHERE doc_id % 2 = 0""".stripMargin,
    "kg_company" ->
      s"SELECT $subj, 'postedBy' AS pred, printf('C%02d', doc_id % 15) AS obj FROM documents",
    "kg_title" ->
      s"SELECT $subj, 'hasTitle' AS pred, printf('T%03d', doc_id % 20) AS obj FROM documents",
    "kg_title_lev" ->
      s"SELECT $subj, 'hasTitle' AS pred, printf('T%03d', doc_id % 20) AS obj FROM documents",
    "kg_title_scored" ->
      s"SELECT $subj, 'hasTitle' AS pred, printf('T%03d', doc_id % 20) AS obj FROM documents",
    "kg_skills_gaz_file" -> skillsOracle,
    "kg_language_proficiency" ->
      s"""SELECT $subj, 'languageProficiency' AS pred, l.obj AS obj
         |FROM documents d
         |JOIN (VALUES (0, 'LANG00=verhandlungssicher'), (0, 'LANG01=verhandlungssicher'),
         |             (2, 'LANG00=verhandlungssicher'), (2, 'LANG01=verhandlungssicher'),
         |             (1, 'LANG02=fliessend')) l(m, obj)
         |  ON d.doc_id % 4 = l.m""".stripMargin,
    "kg_triples_full" -> triplesFullOracle,
    "kg_all_triples" -> allTriplesOracle,
    "kg_entity_pagerank" -> entityPagerankOracle,
    "kg_entity_triangles" -> entityTrianglesOracle,
    "kg_entity_components" -> entityComponentsOracle,
    "kg_entity_pagerank_bucketed" -> entityPagerankOracle,
    "kg_star_query" -> starQueryOracle,
    // OPTIONAL = declarative LEFT JOIN over the same closed-form triples
    "kg_star_optional" ->
      s"""WITH triples AS ($allTriplesOracle)
         |SELECT t.subj, t.obj AS title, l.obj AS loc
         |FROM triples t
         |LEFT JOIN (SELECT subj, obj FROM triples WHERE pred = 'locatedIn') l
         |  ON l.subj = t.subj
         |WHERE t.pred = 'hasTitle'
         |  AND EXISTS (SELECT 1 FROM triples s WHERE s.subj = t.subj
         |              AND s.pred = 'requiresSkill' AND s.obj = 'S001')""".stripMargin,
    "kg_entity_pagerank_seeded" -> entityPagerankSeededOracle,
    "kg_entity_kcore" -> entityKcoreOracle,
    "kg_reach_sketch" -> reachSketchOracle,
    "kg_harmonic_centrality" -> harmonicCentralityOracle,
    // two physical plans, one result: the weighted bucketed-table default
    // and its in-session pinned contrast share the weighted-rank oracle
    "kg_entity_pagerank_weighted_pinned" -> entityPagerankWeightedOracle,
    "kg_entity_bfs" -> entityBfsOracle,
    "kg_entity_wsp" -> entityWspOracle,
    "kg_edge_lift" -> edgeLiftOracle,
    "kg_sibling_query" -> siblingQueryOracle,
    "kg_predicate_stats" -> predicateStatsOracle,
    "kg_predicate_card_sketch" -> predicateCardSketchOracle,
    // the merge-identity pairing: the INCREMENTAL (base-sketch ∪ shard-
    // sketch) estimates must equal the from-scratch full-corpus sketch —
    // the oracle IS the from-scratch SQL
    "kg_card_sketch_increment" -> predicateCardSketchOracle,
    "kg_clustering_coeff" -> clusteringCoeffOracle,
    "kg_edge_support" -> edgeSupportOracle,
    "kg_entity_ktruss" -> entityKtrussOracle,
    "kg_degree_hist" -> degreeHistOracle,
    "kg_entity_pagerank_weighted" -> entityPagerankWeightedOracle,
    "kg_cooc_increment" -> coocIncrementOracle,
    "kg_taxonomy_closure" -> taxonomyClosureOracle,
    // identical capped-wedge enumeration + integer RA sum + NOT EXISTS edge
    // filter — bit-exact
    "kg_link_prediction" ->
      s"""$coocCtes,
         |byz AS (SELECT e.x AS z, e.y AS n, d.deg
         |        FROM edges e JOIN deg d ON e.x = d.x WHERE d.deg <= 64),
         |cand AS (SELECT a.z, a.n AS a, b.n AS b, a.deg
         |         FROM byz a JOIN byz b ON a.z = b.z WHERE a.n < b.n),
         |scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common,
         |                  CAST(sum(1000000 // deg) AS BIGINT) AS ra_e6
         |           FROM cand GROUP BY 1, 2),
         |und AS (SELECT x, y FROM edges WHERE x < y)
         |SELECT s.a AS x, s.b AS y, s.common, s.ra_e6
         |FROM scored s LEFT JOIN und u ON s.a = u.x AND s.b = u.y
         |WHERE u.x IS NULL""".stripMargin,
    "kg_entailed_triples" -> entailedTriplesOracle,
    "kg_entity_lpa" -> entityLpaOracle,
    "kg_entity_lpa_converged" -> entityLpaConvergedOracle,
    "kg_negative_samples" -> negativeSamplesOracle,
    "kg_negative_samples_subj" -> negativeSamplesSubjOracle,
    "kg_eval_pr" -> evalPrOracle,
    "kg_random_walks" -> randomWalksOracle,
    "kg_walk_pairs" -> walkPairsOracle,
    "kg_property_table" -> propertyTableOracle,
    // merge-identity pairing: the incrementally-maintained view must equal
    // the from-scratch pivot over base ∪ shard — the oracle IS from-scratch
    "kg_property_increment" -> propertyTableOracle,
    "kg_chain_query" ->
      s"""WITH triples AS ($allTriplesOracle),
         |tax(child, parent) AS (SELECT * FROM (VALUES $taxonomyValues) v(child, parent))
         |SELECT t.subj, t.obj AS o1, x.parent AS o2
         |FROM triples t JOIN tax x ON t.obj = x.child
         |WHERE t.pred = 'requiresSkill'""".stripMargin,
    // OPTIONAL tail = declarative LEFT JOIN on the second taxonomy hop
    "kg_chain3_query" -> chain3Oracle("requiresSkill"),
    "kg_chain3_optional" -> chain3Oracle("requiresLanguage"),
    // DESCRIBE stated declaratively: symmetric seed membership at hop 1,
    // outbound closure of the hop-1 neighborhood at hop 2, MIN hop per
    // triple — the exact contract of TripleStore.describe
    "kg_describe" ->
      s"""WITH triples AS ($allTriplesOracle
         |  UNION ALL
         |  SELECT child AS subj, 'is_a' AS pred, parent AS obj
         |  FROM (VALUES $taxonomyValues) v(child, parent)),
         |seeds(e) AS (VALUES ('S001'), ('LANG00')),
         |h1 AS (SELECT subj, pred, obj FROM triples
         |       WHERE subj IN (SELECT e FROM seeds)
         |          OR obj IN (SELECT e FROM seeds)),
         |fr AS (SELECT subj AS e FROM h1 UNION SELECT obj FROM h1
         |       EXCEPT SELECT e FROM seeds),
         |h2 AS (SELECT t.subj, t.pred, t.obj FROM triples t
         |       JOIN fr ON t.subj = fr.e)
         |SELECT subj, pred, obj, CAST(min(hop) AS BIGINT) AS hop FROM (
         |  SELECT *, 1 AS hop FROM h1
         |  UNION ALL SELECT *, 2 AS hop FROM h2)
         |GROUP BY 1, 2, 3""".stripMargin,
    // CONSTRUCT stated declaratively: the template triple per distinct
    // (subject, category) binding of the requiresSkill ∘ is_a path
    "kg_construct" ->
      s"""WITH triples AS ($allTriplesOracle),
         |tax(child, parent) AS (SELECT * FROM (VALUES $taxonomyValues) v(child, parent))
         |SELECT DISTINCT t.subj, 'requiresCategory' AS pred, x.parent AS obj
         |FROM triples t JOIN tax x ON t.obj = x.child
         |WHERE t.pred = 'requiresSkill'""".stripMargin,
    // ASK stated as four scalar existence aggregates over the same
    // triples ∪ taxonomy relation — question set shared with askQuestions
    "kg_ask" ->
      s"""WITH triples AS ($allTriplesOracle
         |  UNION ALL
         |  SELECT child AS subj, 'is_a' AS pred, parent AS obj
         |  FROM (VALUES $taxonomyValues) v(child, parent))
         |SELECT 'any_posting_titled' AS question, CAST(max(CASE WHEN
         |  pred = 'hasTitle' THEN 1 ELSE 0 END) AS BIGINT) AS answer
         |FROM triples
         |UNION ALL
         |SELECT 'requires_s001', CAST(max(CASE WHEN pred = 'requiresSkill'
         |  AND obj = 'S001' THEN 1 ELSE 0 END) AS BIGINT) FROM triples
         |UNION ALL
         |SELECT 'located_loc99', CAST(max(CASE WHEN pred = 'locatedIn'
         |  AND obj = 'LOC99' THEN 1 ELSE 0 END) AS BIGINT) FROM triples
         |UNION ALL
         |SELECT 'skill_is_a_root', CAST(max(CASE WHEN pred = 'is_a'
         |  AND obj = 'Skill' THEN 1 ELSE 0 END) AS BIGINT) FROM triples""".stripMargin,
    "kg_canonical" -> canonicalOracle,
    "kg_canonical_increment" -> canonicalOracle,
    "kg_media_meta" ->
      s"""SELECT $subj, printf('img://%d/%d', doc_id, i) AS media_ref,
         | CAST(320 + 32 * ((doc_id + i) % 5) AS BIGINT) AS width,
         | CAST(240 + 24 * ((doc_id + i) % 7) AS BIGINT) AS height
         |FROM (SELECT doc_id,
         |        unnest(generate_series(0, ((len(string_split(text, ' ')) + 7) // 8) - 1)) AS i
         |      FROM documents)
         |WHERE (doc_id + i) % 3 = 0""".stripMargin,
    "kg_media_features" ->
      s"""SELECT $subj, printf('img://%d/%d', doc_id, i) AS media_ref,
         | CAST((doc_id * 100003 + i * 17) % 1000000007 AS BIGINT) AS phash,
         | CAST((doc_id * 7 + i * 13) % 10000 AS BIGINT) AS brightness_e4,
         | CAST(64 AS BIGINT) AS thumb_w,
         | CAST((64 * (240 + 24 * ((doc_id + i) % 7))) // (320 + 32 * ((doc_id + i) % 5)) AS BIGINT)
         |   AS thumb_h
         |FROM (SELECT doc_id,
         |        unnest(generate_series(0, ((len(string_split(text, ' ')) + 7) // 8) - 1)) AS i
         |      FROM documents)
         |WHERE (doc_id + i) % 3 = 0""".stripMargin,
    "kg_media_frames" ->
      s"""SELECT CAST(doc_id AS VARCHAR) AS subj,
         | printf('img://%d/%d', doc_id, i) AS media_ref,
         | CAST(f AS BIGINT) AS frame_idx,
         | printf('img://%d/%d#f%d', doc_id, i, f) AS frame_ref
         |FROM (SELECT doc_id, i, unnest(generate_series(0, 10 + (doc_id + i) % 20 - 1, 5)) AS f
         |      FROM (SELECT doc_id,
         |              unnest(generate_series(0, ((len(string_split(text, ' ')) + 7) // 8) - 1)) AS i
         |            FROM documents)
         |      WHERE (doc_id + i) % 3 = 0)""".stripMargin)
}
