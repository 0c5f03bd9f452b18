package graft.kg.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.kg.expr.TokenGrams
import graft.kg.io.GazetteerIO
import graft.kg.schema.Schemas.Pred

/** Span-level extraction stages (SURVEY.md §2.1 R2–R9). All pure
  * org.apache.spark.sql.functions built-ins — codegen'd, no UDFs — except
  * where a custom Catalyst expression is explicitly the point (Jaro-Winkler,
  * Aho-Corasick, and the R4 gram kernel [[TokenGrams]]; see graft.kg.expr).
  * No gram is spelled with `transform`/`filter` lambdas: those evaluate
  * interpreted and pull the Generate that explodes them out of whole-stage
  * codegen.
  */
object Extractors {

  /** R2 — posexplode the span array to one row per TEXT span. Media spans are
    * skipped by filtering `kind != 'media'` (never by rewriting the array —
    * the span-sequence invariant of BASELINE.json:15 lives on the unexploded
    * `postings` rows, which this function does not modify).
    * Output: (doc_id, kind, text, offset).
    */
  def textSpans(postings: DataFrame): DataFrame =
    postings
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.offset").as("offset"))
      .where(col("kind") =!= "media")

  /** All media spans: (doc_id, media_ref, offset). */
  def mediaSpans(postings: DataFrame): DataFrame =
    postings
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .where(col("s.kind") === "media")
      .select(col("doc_id"), col("s.media_ref").as("media_ref"), col("s.offset").as("offset"))

  // R5 — workload ("Pensum") regex extraction. Range form first ("80 - 100%"),
  // else single percentage ("60%"), normalized to "lo-hi"; requires a context
  // keyword like the reference's Pensum/Teilzeit/Vollzeit matching.
  private val RangeRe = "(\\d{1,3})\\s*[-–]\\s*(\\d{1,3})\\s*%"
  private val SingleRe = "(\\d{1,3})\\s*%"
  private val KeywordRe = "Pensum|Teilzeit|Vollzeit|Arbeitspensum|Workload"

  /** R5: (doc_id, pred=hasWorkload, obj="lo-hi", score, src_offset). */
  def workload(spans: DataFrame): DataFrame = {
    val lo = regexp_extract(col("text"), RangeRe, 1)
    val hi = regexp_extract(col("text"), RangeRe, 2)
    val single = regexp_extract(col("text"), SingleRe, 1)
    val obj = when(lo =!= "",
      format_string("%d-%d",
        least(lo.cast("int"), hi.cast("int")), greatest(lo.cast("int"), hi.cast("int"))))
      .when(single =!= "", format_string("%d-%d", single.cast("int"), single.cast("int")))
      .otherwise(lit(null))
    spans
      // cheap contains() pre-filter before the regex: every workload form
      // has a '%', and substring scan is far cheaper than regex over the
      // full corpus
      .where(col("text").contains("%") && col("text").rlike(KeywordRe))
      .select(col("doc_id"), lit(Pred.hasWorkload).as("pred"), obj.as("obj"),
        lit(1.0).as("score"), col("offset").as("src_offset"))
      .where(col("obj").isNotNull)
  }

  /** R4 — gazetteer mention detection, n-gram broadcast-join plan: tokenize
    * each span on single spaces, generate 1..maxN-token grams, broadcast
    * hash-equi-join gram == gazetteer surface (case-sensitive). The
    * interchangeable trie plan is [[graft.kg.expr.AhoCorasickMatches]].
    * Output: (doc_id, surface, entity_id, canonical, offset).
    */
  def ngramMentions(spans: DataFrame, gaz: DataFrame, maxN: Int = 2): DataFrame =
    gramRows(spans, maxN)
      .join(broadcast(gaz), col("gram") === col("surface"))
      .select(col("doc_id"), col("surface"), col("entity_id"), col("canonical"), col("offset"))

  /** (doc_id, offset, gram): every 1..maxN-token gram of each span's text,
    * unfiltered — the gram side of [[ngramMentions]] and of the salted skill
    * join ([[graft.kg.Pipeline.skillTriplesSalted]]).
    */
  private[graft] def gramRows(spans: DataFrame, maxN: Int): DataFrame =
    spans.select(col("doc_id"), col("offset"),
      explode(spanGrams(lit(maxN), upperFirst = false)).as("gram"))

  /** The grams of the span's `text` split on single spaces, through the one
    * codegen'd gram kernel ([[TokenGrams]]) every R4 path shares. `maxN` is
    * per row: the mention paths emit 2-grams only for kinds whose gazetteer
    * has multi-token surfaces.
    */
  private def spanGrams(maxN: Column, upperFirst: Boolean, tag: Option[String] = None): Column =
    TokenGrams.tokenGrams(split(col("text"), " "), maxN, upperFirst, tag)

  /** 2 for the `twoGramKinds`, else 1 (also for a null kind). */
  private def gramWidth(twoGramKinds: Seq[String]): Column =
    when(col("kind").isin(twoGramKinds.map(x => x: Any): _*), 2).otherwise(1)

  /** Single-pass candidate generation (the scan-once hot path of
    * Pipeline.allTriples): one projection over the exploded spans emits every
    * extraction candidate as (doc_id, ctype, payload, kind, offset):
    *   - ctype='title'    payload = gender-suffix-stripped h1 text (R3)
    *   - ctype='workload' payload = normalized "lo-hi" literal (R5)
    *   - ctype='company'  payload = legal-suffix footer candidate (R8)
    *   - ctype='gram'     payload = uppercase-first 1/2-gram for the fused
    *                      gazetteer join (R4/R6/R9); kind routes the join
    * Cheap pre-filters keep the emitted relation ~10 rows/doc.
    * `twoGramKinds`: span kinds whose gazetteer contains multi-token surfaces
    * (a prep-pass fact — Pipeline derives it from the gazetteers via
    * GazetteerIO.hasMultiTokenSurface; hardcoding it would silently miss
    * mentions if a multi-token surface were added to another kind's
    * gazetteer). `mentionKinds`: the span kinds that have ANY mention
    * gazetteer (also derived from the dims — a hardcoded list would silently
    * emit zero mentions for a newly added dimension's kind).
    */
  def candidates(spans: DataFrame,
      twoGramKinds: Seq[String],
      mentionKinds: Seq[String]): DataFrame = {
    def cand(ctype: String, payload: Column): Column =
      struct(lit(ctype).as("ctype"), payload.as("payload"))

    val title = when(col("kind") === "h1",
      array(cand("title", trim(regexp_replace(col("text"), GenderSuffixRe, "")))))
      .otherwise(emptyCands)

    val lo = regexp_extract(col("text"), RangeRe, 1)
    val hi = regexp_extract(col("text"), RangeRe, 2)
    val single = regexp_extract(col("text"), SingleRe, 1)
    val wlObj = when(lo =!= "",
      format_string("%d-%d",
        least(lo.cast("int"), hi.cast("int")), greatest(lo.cast("int"), hi.cast("int"))))
      .when(single =!= "", format_string("%d-%d", single.cast("int"), single.cast("int")))
      .otherwise(lit(null))
    val workload = when(
      col("text").contains("%") && col("text").rlike(KeywordRe) && wlObj.isNotNull,
      array(cand("workload", wlObj))).otherwise(emptyCands)

    val company = when(
      col("kind") === "footer" && col("text").rlike("\\b(AG|GmbH|SA)$"),
      array(cand("company", trim(col("text"))))).otherwise(emptyCands)

    // upper-first 1-grams, plus 2-grams for the twoGramKinds, from the
    // codegen'd kernel: no lambda is left in the explode, so the whole
    // Generate (regexes, CASE, IN) compiles into one whole-stage stage
    val grams = when(col("kind").isin(mentionKinds.map(x => x: Any): _*),
      spanGrams(gramWidth(twoGramKinds), upperFirst = true, tag = Some("gram")))
      .otherwise(emptyCands)

    spans
      .select(col("doc_id"), col("kind"), col("offset"),
        explode(concat(title, workload, company, grams)).as("c"))
      .select(col("doc_id"), col("c.ctype").as("ctype"), col("c.payload").as("payload"),
        col("kind"), col("offset"))
  }

  private val GenderSuffixRe = "\\s*\\((?:m/w(?:/d)?|w/m)\\)|\\s*/-in\\b"

  private def emptyCands: Column =
    expr("cast(array() as array<struct<ctype:string,payload:string>>)")

  /** Fused mention detection for several gazetteers in ONE pass: the
    * per-kind gazetteers (skills→li, languages→p, locations→footer) are
    * unioned into a single broadcast dimension keyed by (kind, surface), so
    * the expensive gram generation over the span corpus runs once instead of
    * once per predicate — at 10^12 spans the gram explode dominates, so this
    * is a ~3x cut of the hot path. 2-grams are generated only for kinds whose
    * gazetteer contains multi-token surfaces (`multiTokenKinds` — a prep-pass
    * fact from GazetteerIO.hasMultiTokenSurface; validation that every
    * surface starts with [A-Z0-9], the contract behind the uppercase-first
    * token pre-filter below, also lives in the prep pass:
    * GazetteerIO.validated — never inside plan construction, where it would
    * fire a driver-blocking action on every build).
    * `gazByKind`: (kind, gazetteer, pred). Output: (doc_id, pred, entity_id, offset).
    */
  def fusedMentions(spans: DataFrame, gazByKind: Seq[(String, DataFrame, String)],
      multiTokenKinds: Seq[String]): DataFrame = {
    val dim = gazByKind.map { case (kind, gaz, pred) =>
      gaz.select(lit(kind).as("gkind"), col("surface"), col("entity_id"),
        lit(pred).as("pred"))
    }.reduce(_ unionByName _)
    // Every gazetteer surface starts with an uppercase letter or a digit
    // (prep-pass contract, GazetteerIO.validated), while body filler is
    // lowercase — filtering tokens by first char before the gram explode
    // drops ~95% of gram rows (and the memory traffic that dominates this
    // stage) without changing results.
    spans
      .where(col("kind").isin(gazByKind.map(_._1: Any): _*))
      .select(col("doc_id"), col("kind"), col("offset"),
        explode(spanGrams(gramWidth(multiTokenKinds), upperFirst = true)).as("gram"))
      .join(broadcast(dim),
        col("gram") === col("surface") && col("kind") === col("gkind"))
      .select(col("doc_id"), col("pred"), col("entity_id"), col("offset"))
  }

  /** R8 — organisation extraction: footer spans ending in a legal-form suffix
    * (AG/GmbH/SA) are candidates; candidates are frequency-scored per doc and
    * the winner linked (exact, broadcast) to the canonical company table.
    * Output: (doc_id, pred=postedBy, obj=entity_id, score, src_offset).
    */
  def company(spans: DataFrame, companies: DataFrame): DataFrame = {
    val cands = spans
      .where(col("kind") === "footer" && col("text").rlike("\\b(AG|GmbH|SA)$"))
      .select(col("doc_id"), trim(col("text")).as("candidate"), col("offset"))
    val scored = cands
      .groupBy(col("doc_id"), col("candidate"))
      .agg(count(lit(1)).as("freq"), min(col("offset")).as("src_offset"))
    // argmax by (freq desc, candidate asc) as a single hash-agg via min_by on
    // (-freq, candidate) — avoids a second shuffle + sort that a ranking
    // window would cost (R11 top-1 doesn't need full ranking)
    scored
      .groupBy(col("doc_id"))
      .agg(min_by(struct(col("candidate"), col("freq"), col("src_offset")),
        struct((-col("freq")).as("nf"), col("candidate"))).as("best"))
      .select(col("doc_id"), col("best.candidate").as("candidate"),
        col("best.freq").as("freq"), col("best.src_offset").as("src_offset"))
      .join(broadcast(companies), col("candidate") === col("surface"))
      .select(col("doc_id"), lit(Pred.postedBy).as("pred"), col("entity_id").as("obj"),
        col("freq").cast("double").as("score"), col("src_offset").cast("int").as("src_offset"))
  }

  /** R7 — heading-proximity mention detection: restrict gazetteer mentions to
    * spans whose document offset lies within `k` of an *anchor* span (in the
    * reference: list items near "Anforderungen"/"Kenntnisse" headings). The
    * join is equi on doc_id with a range residual |offset - anchor| <= k —
    * the range-join shape of SURVEY.md §2.2 — with the anchor side reduced
    * (one row per doc via min) and broadcast when small.
    */
  def proximityMentions(
      spans: DataFrame,
      gaz: DataFrame,
      anchorPredicate: Column,
      k: Int,
      mentionKinds: Seq[String] = Seq("li")): DataFrame = {
    val anchors = spans.where(anchorPredicate)
      .select(col("doc_id").as("a_doc"), col("offset").as("a_off"))
    val near = spans
      .where(col("kind").isin(mentionKinds.map(x => x: Any): _*))
      .join(anchors,
        col("doc_id") === col("a_doc") &&
          abs(col("offset") - col("a_off")) <= k)
      .select(col("doc_id"), col("kind"), col("text"), col("offset"))
      .distinct()
    ngramMentions(near, gaz)
  }

  /** Title candidate surfaces from h1 spans with the reference's gender-form
    * suffixes stripped ("(m/w)", "/-in" — SURVEY.md §2.1 R3).
    * Output: (doc_id, candidate, offset).
    */
  def titleCandidates(spans: DataFrame): DataFrame =
    spans
      .where(col("kind") === "h1")
      .select(col("doc_id"),
        trim(regexp_replace(col("text"), GenderSuffixRe, "")).as("candidate"),
        col("offset"))

  /** R3 with the reference's tag-weight + position features (SURVEY.md §2.1
    * R3 [PK-med]): candidates from h1/h2/title spans, feature weight =
    * tagWeight(kind) / (1 + offset) — a prominent early h1 beats a deep h2.
    * The synthetic corpus emits h1-only titles at offset 0 (weight exactly
    * 1.0), so the registered query shares kg_title's oracle; the h2/position
    * semantics are pinned by golden fixtures.
    * Output: (doc_id, candidate, offset, w).
    */
  def titleCandidatesScored(spans: DataFrame): DataFrame =
    spans
      .where(col("kind").isin("h1", "h2", "title"))
      .select(col("doc_id"),
        trim(regexp_replace(col("text"), GenderSuffixRe, "")).as("candidate"),
        col("offset"),
        (when(col("kind") === "h1", 1.0)
          .when(col("kind") === "title", 0.8)
          .otherwise(0.6) / (lit(1.0) + col("offset"))).as("w"))

  private val ProficiencyRe =
    "verhandlungssicher|fliessend|Grundkenntnisse|Muttersprache"

  /** R6 depth — proficiency qualifiers (SURVEY.md §2.1 R6: "proficiency
    * keywords"): every language mention is paired with the NEAREST qualifier
    * keyword at-or-after its token position within the same span ("Englisch
    * Grundkenntnisse und Deutsch verhandlungssicher" resolves each language
    * to its own qualifier; a trailing qualifier covers every language listed
    * before it, as in "Deutsch und Englisch verhandlungssicher"). Mentions
    * with no following qualifier emit nothing. One posexplode per span + the
    * R4 broadcast join (language surfaces are single-token — the p-kind
    * gazetteer's prep fact) + a min_by hash-agg over (mention, qualifier)
    * position pairs.
    * Output: (doc_id, entity_id, qualifier, offset).
    */
  def languageProficiency(spans: DataFrame, languagesGaz: DataFrame): DataFrame = {
    val toks = spans
      .where(col("kind") === "p" && col("text").rlike(ProficiencyRe))
      .select(col("doc_id"), col("offset"),
        posexplode(split(col("text"), " ")).as(Seq("tpos", "tok")))
    val mentions = toks
      .where(GazetteerIO.upperStart(col("tok")))
      .join(broadcast(languagesGaz), col("tok") === col("surface"))
      .select(col("doc_id"), col("offset"), col("tpos"), col("entity_id"))
    val quals = toks
      .where(col("tok").rlike(s"^(?:$ProficiencyRe)$$"))
      .select(col("doc_id").as("q_doc"), col("offset").as("q_off"),
        col("tpos").as("qpos"), col("tok").as("qualifier"))
    mentions
      .join(quals,
        col("doc_id") === col("q_doc") && col("offset") === col("q_off") &&
          col("qpos") >= col("tpos"))
      .groupBy(col("doc_id"), col("offset"), col("tpos"), col("entity_id"))
      .agg(min_by(col("qualifier"), col("qpos")).as("qualifier"))
      .select(col("doc_id"), col("entity_id"), col("qualifier"), col("offset"))
  }
}
