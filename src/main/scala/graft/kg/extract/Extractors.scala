package graft.kg.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.kg.expr.TokenGrams
import graft.kg.io.GazetteerIO

/** Span-level extraction stages (SURVEY.md §2.1 R2–R9). [[candidates]] is
  * the one spelling of the title (R3), gram (R4/R6/R9), workload (R5) and
  * company (R8) span rules and [[mentionJoin]] the one gazetteer join;
  * `graft.kg.Pipeline`'s branches consume them, for the single-pass
  * `allTriplesRaw` and for every per-predicate entry alike. All pure
  * org.apache.spark.sql.functions built-ins — codegen'd, no UDFs — except
  * where a custom Catalyst expression is explicitly the point (Jaro-Winkler,
  * Aho-Corasick, and the gram kernel [[TokenGrams]]; see graft.kg.expr).
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

  /** (doc_id, offset, gram): every 1..maxN-token gram of each span's text,
    * unfiltered — the gram side of the salted skill join
    * ([[graft.kg.Pipeline.skillTriplesSalted]]).
    */
  private[graft] def gramRows(spans: DataFrame, maxN: Int): DataFrame =
    spans.select(col("doc_id"), col("offset"),
      explode(spanGrams(lit(maxN), upperFirst = false)).as("gram"))

  /** The 1..maxN-grams of the span's `text` split on single spaces, through
    * the one codegen'd gram kernel ([[TokenGrams]]). `maxN` is per row:
    * [[candidates]] emits 2-grams only for its `twoGramKinds`.
    */
  private def spanGrams(maxN: Column, upperFirst: Boolean, tag: Option[String] = None): Column =
    TokenGrams.tokenGrams(split(col("text"), " "), 1, maxN, upperFirst, tag)

  /** 2 for the `twoGramKinds`, else 1 (also for a null kind). */
  private def gramWidth(twoGramKinds: Seq[String]): Column =
    when(col("kind").isin(twoGramKinds.map(x => x: Any): _*), 2).otherwise(1)

  /** Candidate generation, the one spelling of the R3/R4/R5/R8 span rules:
    * one projection over the exploded spans emits every extraction candidate
    * as (doc_id, ctype, payload, kind, offset), which the branches of
    * [[graft.kg.Pipeline]] link, join and aggregate:
    *   - ctype='title'    payload = gender-suffix-stripped h1 text (R3)
    *   - ctype='workload' payload = normalized "lo-hi" literal (R5)
    *   - ctype='company'  payload = legal-suffix footer candidate (R8)
    *   - ctype='gram'     payload = uppercase-first 1/2-gram for the
    *                      [[mentionJoin]] (R4/R6/R9); kind routes the join
    * Cheap pre-filters keep the emitted relation ~10 rows/doc. Every
    * gazetteer surface starts with [A-Z0-9] (the prep-pass contract of
    * GazetteerIO.validated) while body filler is lowercase, so only
    * upper-first grams are emitted: ~95% fewer gram rows, same mentions.
    * `twoGramKinds`: span kinds whose gazetteer contains multi-token surfaces
    * (a prep-pass fact — Pipeline.allTriplesRaw derives it from the
    * gazetteers via GazetteerIO.hasMultiTokenSurface; hardcoding it would
    * silently miss mentions if a multi-token surface were added to another
    * kind's gazetteer; callers without a prep pass name every mention kind,
    * which costs only unmatched 2-grams). `mentionKinds`: the span kinds that have ANY mention
    * gazetteer (also derived from the dims — a hardcoded list would silently
    * emit zero mentions for a newly added dimension's kind).
    */
  def candidates(spans: DataFrame,
      twoGramKinds: Seq[String],
      mentionKinds: Seq[String]): DataFrame = {
    def cand(ctype: String, payload: Column): Column =
      struct(lit(ctype).as("ctype"), payload.as("payload"))

    val title = when(col("kind") === "h1", array(cand("title", titleSurface)))
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

  /** The span text with the reference's gender-form suffixes stripped
    * ("(m/w)", "(m/w/d)", "/-in" — SURVEY.md §2.1 R3): the title surface
    * every title path links.
    */
  private val GenderSuffixRe = "\\s*\\((?:m/w(?:/d)?|w/m)\\)|\\s*/-in\\b"
  private val titleSurface: Column = trim(regexp_replace(col("text"), GenderSuffixRe, ""))

  private def emptyCands: Column =
    expr("cast(array() as array<struct<ctype:string,payload:string>>)")

  /** R4 — gazetteer mentions: the `gram` [[candidates]] joined to the union
    * of the per-kind gazetteers, ONE broadcast dimension keyed by (kind,
    * surface), so each span kind meets only its own gazetteer and the gram
    * explode runs once however many gazetteers there are. The
    * interchangeable trie plan is [[graft.kg.expr.AhoCorasickMatches]].
    * `dims`: (span kind, gazetteer, predicate). Output: the candidate
    * columns plus (gkind, surface, entity_id, pred).
    */
  private[graft] def mentionJoin(cands: DataFrame,
      dims: Seq[(String, DataFrame, String)]): DataFrame = {
    val dim = dims.map { case (kind, g, pred) =>
      g.select(lit(kind).as("gkind"), col("surface"), col("entity_id"), lit(pred).as("pred"))
    }.reduce(_ unionByName _)
    cands.where(col("ctype") === "gram")
      .join(broadcast(dim), col("payload") === col("surface") && col("kind") === col("gkind"))
  }

  /** R7 — heading-proximity mention detection: restrict gazetteer mentions to
    * spans whose document offset lies within `k` of an *anchor* span (in the
    * reference: list items near "Anforderungen"/"Kenntnisse" headings). The
    * join is equi on doc_id with a range residual |offset - anchor| <= k —
    * the range-join shape of SURVEY.md §2.2 — with the anchor side reduced
    * (one row per doc via min) and broadcast when small. The near spans then
    * run the [[mentionJoin]] over their own [[candidates]] (2-grams for
    * every mention kind). Output: (doc_id, surface, entity_id, offset).
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
    // the predicate slot of the dimension is not read: these rows are
    // mentions, not triples
    mentionJoin(candidates(near, mentionKinds, mentionKinds), mentionKinds.map((_, gaz, "")))
      .select(col("doc_id"), col("surface"), col("entity_id"), col("offset"))
  }

  /** Title candidate surfaces ([[titleSurface]]) from h1 spans, for the
    * Levenshtein title path and R13's typo edges.
    * Output: (doc_id, candidate, offset).
    */
  def titleCandidates(spans: DataFrame): DataFrame =
    spans
      .where(col("kind") === "h1")
      .select(col("doc_id"), titleSurface.as("candidate"), col("offset"))

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
      .select(col("doc_id"), titleSurface.as("candidate"), col("offset"),
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
