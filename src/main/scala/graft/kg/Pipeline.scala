package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.canon.ConnectedComponents
import graft.kg.extract.Extractors
import graft.kg.io.{Dictionaries, GazetteerIO}
import graft.kg.link.{Linking, Salting}
import graft.kg.schema.Schemas.Pred

/** End-to-end wiring of the KG-construction pipeline (SURVEY.md §3.2).
  * Each extraction rule has one branch over `Extractors.candidates`, and
  * every branch returns (doc_id, pred, obj, score, src_offset) triples;
  * [[allTriples]] unions them and deduplicates deterministically.
  */
object Pipeline {

  /** Prep-pass facts about a gazetteer set (SURVEY.md §3.1's resource-load
    * path): computed ONCE per instance (lazy), never inside plan
    * construction. `mentionTwoGramKinds` = span kinds whose mention gazetteer
    * contains multi-token surfaces (drives 2-gram generation); validation of
    * the uppercase-surface contract runs here too.
    */
  case class GazPrep(mentionTwoGramKinds: Seq[String])

  case class Gazetteers(
      titles: DataFrame,
      skills: DataFrame,
      languages: DataFrame,
      locations: DataFrame,
      companies: DataFrame) {
    /** (kind, mention gazetteer, predicate): the dims of the R4/R6/R9 `mentions` join. */
    def mentionDims: Seq[(String, DataFrame, String)] = Seq(
      ("li", skills, Pred.requiresSkill),
      ("p", languages, Pred.requiresLanguage),
      ("footer", locations, Pred.locatedIn))

    lazy val prep: GazPrep = {
      mentionDims.foreach { case (kind, g, _) => GazetteerIO.validated(g, s"$kind gazetteer") }
      GazetteerIO.validated(titles, "titles gazetteer")
      GazPrep(mentionTwoGramKinds = mentionDims.collect {
        case (kind, g, _) if GazetteerIO.hasMultiTokenSurface(g) => kind
      })
    }
  }

  def defaultGazetteers(spark: SparkSession): Gazetteers = Gazetteers(
    Dictionaries.titlesDf(spark),
    Dictionaries.skillsDf(spark),
    Dictionaries.languagesDf(spark),
    Dictionaries.locationsDf(spark),
    Dictionaries.companiesDf(spark))

  /** Shared R11 per-doc argmax (score desc, entity_id/offset asc tie-break)
    * as one hash-agg with map-side partial aggregation — cheaper than a
    * ranking window (shuffle + sort) for top-1 (SURVEY.md R11).
    */
  private def bestTitle(linked: DataFrame): DataFrame =
    linked
      .groupBy(col("doc_id"))
      .agg(min_by(
        struct(col("entity_id"), col("score"), col("offset")),
        struct((-col("score")).as("ns"), col("entity_id"), col("offset"))).as("best"))
      .select(col("doc_id"), lit(Pred.hasTitle).as("pred"), col("best.entity_id").as("obj"),
        col("best.score").as("score"), col("best.offset").cast("int").as("src_offset"))

  // ---- the four branches over Extractors.candidates' (doc_id, ctype,
  // payload, kind, offset) relation: allTriplesRaw runs them over its pinned
  // candidates, each per-predicate entry over the candidates of its own
  // spans. Output: (doc_id, pred, obj, score, src_offset).

  /** R3+R10+R11: the title candidates, exact + Jaro-Winkler fuzzy linked,
    * one best title per doc.
    */
  private def titles(cands: DataFrame, titlesGaz: DataFrame): DataFrame =
    bestTitle(Linking.linkCandidates(
      cands.where(col("ctype") === "title")
        .select(col("doc_id"), col("payload").as("candidate"), col("offset")),
      titlesGaz))

  /** R5: every workload literal is a triple. */
  private def workloads(cands: DataFrame): DataFrame =
    cands.where(col("ctype") === "workload")
      .select(col("doc_id"), lit(Pred.hasWorkload).as("pred"), col("payload").as("obj"),
        lit(1.0).as("score"), col("offset").cast("int").as("src_offset"))

  /** R4/R6/R9: every gram that [[Extractors.mentionJoin]] matches in its
    * kind's gazetteer of `dims` (span kind, gazetteer, predicate).
    */
  private def mentions(cands: DataFrame, dims: Seq[(String, DataFrame, String)]): DataFrame =
    Extractors.mentionJoin(cands, dims)
      .select(col("doc_id"), col("pred"), col("entity_id").as("obj"),
        lit(1.0).as("score"), col("offset").cast("int").as("src_offset"))

  /** R8: the candidate seen most often in a doc (ties: the smaller surface),
    * linked exact (broadcast) to the company table; score = its frequency.
    * The argmax is one hash-agg via min_by on (-freq, candidate), not a
    * ranking window (R11 top-1 needs no full ranking).
    */
  private def companies(cands: DataFrame, companiesGaz: DataFrame): DataFrame =
    cands.where(col("ctype") === "company")
      .groupBy(col("doc_id"), col("payload").as("candidate"))
      .agg(count(lit(1)).as("freq"), min(col("offset")).as("src_offset"))
      .groupBy(col("doc_id"))
      .agg(min_by(struct(col("candidate"), col("freq"), col("src_offset")),
        struct((-col("freq")).as("nf"), col("candidate"))).as("best"))
      .select(col("doc_id"), col("best.candidate").as("candidate"),
        col("best.freq").as("freq"), col("best.src_offset").as("src_offset"))
      .join(broadcast(companiesGaz), col("candidate") === col("surface"))
      .select(col("doc_id"), lit(Pred.postedBy).as("pred"), col("entity_id").as("obj"),
        col("freq").cast("double").as("score"), col("src_offset").cast("int").as("src_offset"))

  /** The candidates of `kind`'s spans only (an entry's branch reads no other
    * kind), with 1- and 2-token grams for the `mentionKinds`.
    */
  private def kindCandidates(spans: DataFrame, kind: String,
      mentionKinds: Seq[String] = Nil): DataFrame =
    Extractors.candidates(spans.where(col("kind") === kind), mentionKinds, mentionKinds)

  /** One mention predicate on its own: the [[mentions]] of `kind`'s spans in
    * `gaz`, one row per (doc, entity) at its first offset. Only upper-first
    * grams are candidates, so `gaz` must keep GazetteerIO.validated's
    * contract (which [[allTriplesRaw]]'s prep pass checks): a surface
    * outside it matches nothing.
    */
  private def kindMentions(spans: DataFrame, kind: String, gaz: DataFrame,
      pred: String): DataFrame =
    dedupOn("doc_id",
      mentions(kindCandidates(spans, kind, Seq(kind)), Seq((kind, gaz, pred))))

  /** R3+R10+R11: the [[titles]] branch over the h1 spans. */
  def titleTriples(spans: DataFrame, titlesGaz: DataFrame): DataFrame =
    titles(kindCandidates(spans, "h1"), titlesGaz)

  /** [[titleTriples]] through the R10 Levenshtein scoring path (built-in
    * `levenshtein`, normalized): same extraction, same argmax — on the
    * synthetic corpus both paths pick identical winners (shared oracle).
    */
  def titleTriplesLev(spans: DataFrame, titlesGaz: DataFrame): DataFrame =
    bestTitle(Linking.linkCandidatesLev(Extractors.titleCandidates(spans), titlesGaz))

  /** R3 with tag-weight + position scoring: link score multiplied by the
    * candidate's feature weight (h1 > title > h2, early > late) before the
    * argmax. Corpus titles are h1 at offset 0 (weight 1.0) so this shares
    * kg_title's oracle; the feature semantics are pinned by golden fixtures.
    */
  def titleTriplesScored(spans: DataFrame, titlesGaz: DataFrame): DataFrame = {
    val cands = Extractors.titleCandidatesScored(spans)
    val linked = Linking
      .linkCandidates(cands.select(col("doc_id"), col("candidate"), col("offset")), titlesGaz)
      .join(cands.select(col("doc_id"), col("offset"), col("w")), Seq("doc_id", "offset"))
      .withColumn("score", col("score") * col("w"))
      .drop("w")
    bestTitle(linked)
  }

  def skillTriples(spans: DataFrame, skillsGaz: DataFrame): DataFrame =
    kindMentions(spans, "li", skillsGaz, Pred.requiresSkill)

  /** Measured salt factors memoized per (canonicalized-plan digest, key,
    * partitions): the prep-pass aggregation runs ONCE per distinct fact
    * shape per JVM — honoring measuredSalts' "never per plan build" contract
    * without persisting the fact relation (nothing to unpersist, nothing for
    * a library caller to leak; CacheHygieneSpec asserts it). The memo key is
    * an md5 over the full canonicalized plan string (not the 32-bit
    * semanticHash — a birthday collision between distinct fact shapes would
    * silently reuse a wrong salt factor). Salting is correctness-neutral, so
    * the remaining staleness window (same source path, data replaced under it
    * in a long-lived JVM) costs at most a mis-tuned salt, never a wrong row.
    */
  private val saltMemo = scala.collection.concurrent.TrieMap.empty[(String, String, Int), Int]

  private def planDigest(df: DataFrame): String = {
    val canonical = df.queryExecution.analyzed.canonicalized.toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Same result as [[skillTriples]] but through the skew-salted shuffle-join
    * path (hot key "Java"): correctness of salting is asserted by this and
    * the broadcast plan sharing one oracle. `salts = None` uses the
    * memoized prep-pass measurement of the fact side's key-frequency stats
    * (SURVEY.md §4) — the registered query runs that path. The measurement
    * pass recomputes the gram explode once (first invocation only); the
    * explode is cheaper than keeping the whole gram relation pinned in
    * executor memory across unrelated queries.
    */
  def skillTriplesSalted(spans: DataFrame, skillsGaz: DataFrame,
      salts: Option[Int] = None): DataFrame = {
    val gramRows = Extractors.gramRows(spans.where(col("kind") === "li"), maxN = 2)
    val s = salts.getOrElse {
      val parts = spans.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
      saltMemo.getOrElseUpdate(
        (planDigest(gramRows), "gram", parts),
        Salting.measuredSalts(gramRows, "gram", parts))
    }
    val joined = Salting.saltedJoin(
      gramRows, skillsGaz.hint("shuffle_hash"), "gram", "surface", "doc_id", s)
    dedupOn("doc_id",
      joined.select(col("doc_id"), lit(Pred.requiresSkill).as("pred"), col("entity_id").as("obj"),
        lit(1.0).as("score"), col("offset").cast("int").as("src_offset")))
  }

  def languageTriples(spans: DataFrame, languagesGaz: DataFrame): DataFrame =
    kindMentions(spans, "p", languagesGaz, Pred.requiresLanguage)

  /** R6 depth — (doc, languageProficiency, "LANGxx=qualifier") triples. */
  def languageProficiencyTriples(spans: DataFrame, languagesGaz: DataFrame): DataFrame =
    Extractors.languageProficiency(spans, languagesGaz)
      .groupBy(col("doc_id"),
        concat(col("entity_id"), lit("="), col("qualifier")).as("obj"))
      .agg(min(col("offset")).as("src_offset"))
      .select(col("doc_id"), lit(Pred.languageProficiency).as("pred"), col("obj"),
        lit(1.0).as("score"), col("src_offset").cast("int").as("src_offset"))

  def locationTriples(spans: DataFrame, locationsGaz: DataFrame): DataFrame =
    kindMentions(spans, "footer", locationsGaz, Pred.locatedIn)

  /** R5: the [[workloads]] branch. A workload span may be of any kind, but
    * every workload form holds a '%', so only those spans reach the
    * candidate explode (and its title and company regexes).
    */
  def workloadTriples(spans: DataFrame): DataFrame =
    workloads(Extractors.candidates(spans.where(col("text").contains("%")), Nil, Nil))

  /** R8: the [[companies]] branch over the footer spans. */
  def companyTriples(spans: DataFrame, companiesGaz: DataFrame): DataFrame =
    companies(kindCandidates(spans, "footer"), companiesGaz)

  /** R12 — the union of all predicate branches ([[allTriplesRaw]]),
    * deduplicated deterministically ([[dedupTriples]]).
    */
  def allTriples(postings: DataFrame, gaz: Gazetteers): DataFrame =
    dedupTriples(allTriplesRaw(postings, gaz))

  /** The deterministic (subj, pred, obj) dedup the per-branch union needs:
    * branches emit DISJOINT predicates, so this only merges repeated mentions
    * of one entity within a doc (max score, min evidence offset).
    */
  def dedupTriples(raw: DataFrame): DataFrame = dedupOn("subj", raw)

  private def dedupOn(subj: String, raw: DataFrame): DataFrame =
    raw
      .groupBy(col(subj), col("pred"), col("obj"))
      .agg(max(col("score")).as("score"), min(col("src_offset")).cast("int").as("src_offset"))

  /** Pre-dedup union of all predicate branches, single pass: ONE scan and
    * explode of the corpus emits every candidate row (title candidates,
    * workload literals, company candidates, upper-first grams) as a small
    * typed relation, which is pinned (it is ~10 rows/doc of short strings —
    * orders of magnitude smaller than the span corpus) and then routed to
    * the four branches. The corpus is read exactly once however many
    * predicates are extracted — the only shape that holds at 10^12 docs.
    * The hot write path feeds this STRAIGHT into
    * `TableIO.writeTriplesDeduped`, which fuses the dedup aggregation with
    * the (pred, bucket) layout shuffle — one exchange instead of two.
    */
  def allTriplesRaw(postings: DataFrame, gaz: Gazetteers): DataFrame = {
    val prep = gaz.prep // prep-pass facts + validation, once per gaz instance
    val spans = Extractors.textSpans(postings)
    val cands = graft.Pin(Extractors
      .candidates(spans, prep.mentionTwoGramKinds, gaz.mentionDims.map(_._1)))
    // pin ([[graft.Pin]], which also states the cluster caveat), not
    // persist: an InMemoryRelation keeps its full child plan under every
    // one of the four consuming branches, so each downstream stage's task
    // closure carried the whole scan+explode subtree — measured ~25% of
    // worker CPU on this query family was java.io.ObjectInputStream
    // deserializing those task binaries. The pin truncates lineage to a
    // LogicalRDD (small closures for every consumer and every follow-up
    // action) and costs one eager job over the same ~10-short-rows/doc
    // relation the cache held anyway.
    Seq(workloads(cands), mentions(cands, gaz.mentionDims), titles(cands, gaz.titles),
      companies(cands, gaz.companies)).reduce(_.unionByName(_))
      .select(col("doc_id").as("subj"), col("pred"), col("obj"), col("score"),
        col("src_offset").cast("int").as("src_offset"))
  }

  /** R13 — canonicalization: cluster gazetteer surfaces with the fuzzy-linked
    * corpus surfaces (typos) via connected components; representative = the
    * lexicographically-smallest surface of each cluster.
    * Output: (surface, canonical).
    */
  def canonicalSurfaces(spans: DataFrame, titlesGaz: DataFrame): DataFrame =
    ConnectedComponents.run(gazEdges(titlesGaz).union(typoEdges(spans, titlesGaz)))
      .select(col("node").as("surface"), col("component").as("canonical"))

  /** [[canonicalSurfaces]] computed INCREMENTALLY: the gazetteer's own
    * surface→canonical clusters are the COMMITTED state (at production the
    * label table from yesterday's run); the corpus-discovered fuzzy-linked
    * typo surfaces are the shard folded in via
    * [[ConnectedComponents.incremental]] — base clusters are never
    * re-traversed (one semi + one anti join against the label table; only
    * typo-touched components re-enter CC). Result-equal to
    * [[canonicalSurfaces]] by the incremental identity — the driver pairs
    * both queries with the SAME recursive-CTE oracle.
    */
  def canonicalSurfacesIncremental(spans: DataFrame, titlesGaz: DataFrame): DataFrame =
    ConnectedComponents.incremental(
      ConnectedComponents.run(gazEdges(titlesGaz)), typoEdges(spans, titlesGaz))
      .select(col("node").as("surface"), col("component").as("canonical"))

  private def gazEdges(titlesGaz: DataFrame): DataFrame =
    titlesGaz
      .where(col("surface") =!= col("canonical"))
      .select(col("surface").as("src"), col("canonical").as("dst"))

  private def typoEdges(spans: DataFrame, titlesGaz: DataFrame): DataFrame = {
    val cands = Extractors.titleCandidates(spans)
    val misses = cands.join(broadcast(titlesGaz), col("candidate") === col("surface"), "left_anti")
    Linking.fuzzyLink(misses, titlesGaz)
      .select(col("candidate").as("src"), col("surface").as("dst"))
      .distinct()
  }
}
