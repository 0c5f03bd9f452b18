package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kg.expr.TokenGrams

/** Text-analysis operators for a large-scale training-data pipeline, over the
  * `documents` table. All pure built-ins (codegen'd); outputs are strings /
  * bigints (scaled by 1e4 where fractional) so the DuckDB oracles compare
  * exactly — no float round-trip.
  */
object TextOps {

  /** Stopword list shared with the DuckDB oracle. */
  val stopwords: Seq[String] = Seq("the", "a", "und", "mit")

  /** Token counting: whitespace tokens + a word-regex token count
    * (the BPE-ish lower-alpha run count).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").cast("long").as("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_word_tokens"))

  /** Quality scoring: stopword ratio, mean token length, and a simple
    * composite score; fixed-point (x1e4, floored) for exact oracle parity.
    * score = (1 - stop_ratio) * min(n_tokens, 64)/64.
    */
  def quality(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("long")
    val sumLen = expr(
      "aggregate(transform(split(text, ' '), t -> cast(length(t) as bigint)), " +
        "cast(0 as bigint), (acc, x) -> acc + x)")
    docs.select(
      col("doc_id").cast("long").as("doc_id"),
      nTok.as("n_tokens"),
      floor(lit(10000.0) * nStop / nTok).cast("long").as("stop_ratio_e4"),
      floor(lit(10000.0) * sumLen / nTok).cast("long").as("avg_token_len_e4"),
      floor(lit(10000.0) * (lit(1.0) - lit(1.0) * nStop / nTok)
        * least(nTok, lit(64L)) / 64.0).cast("long").as("quality_e4"))
  }

  /** Character-trigram language profiles for [[langId]]: (trigram, lang,
    * weight), the textcat / Cavnar–Trenkle construction compacted to the
    * highest-signal boundary-marked trigrams of each language's function
    * words and morphology (public linguistic knowledge; '_' marks a word
    * boundary, texts are lowercased with spaces mapped to '_'). A production
    * deployment swaps in machine-derived top-N profiles per language through
    * the SAME relation shape — the table is data, not plan. Shared VERBATIM
    * with the DuckDB oracles (OpsEntries embeds it as a VALUES list) —
    * change both together. Unlike the earlier whole-token marker dictionary,
    * trigrams fire on morphology inside words ("sch", "ung", "ión", "ing"),
    * which is what gives the model discriminative power on natural text
    * (OpsSpec: mixed-language fixture sentences classify correctly).
    */
  val langProfiles: Seq[(String, String, Int)] = Seq(
    ("_th", "en", 5), ("the", "en", 5), ("he_", "en", 4), ("ing", "en", 4),
    ("and", "en", 4), ("ng_", "en", 3), ("nd_", "en", 3), ("_of", "en", 3),
    ("of_", "en", 3), ("ion", "en", 3), ("_to", "en", 3), ("_a_", "en", 3),
    ("ed_", "en", 3), ("_an", "en", 2), ("to_", "en", 2), ("er_", "en", 2),
    ("ent", "en", 2), ("_is", "en", 2), ("is_", "en", 2), ("at_", "en", 2),
    ("on_", "en", 2), ("ere", "en", 2), ("ly_", "en", 2), ("wit", "en", 2),
    ("ith", "en", 2), ("_wi", "en", 1), ("th_", "en", 1), ("es_", "en", 1),
    ("re_", "en", 1), ("_be", "en", 1),
    ("der", "de", 5), ("und", "de", 5), ("_de", "de", 4), ("ein", "de", 4),
    ("sch", "de", 4), ("ich", "de", 4), ("die", "de", 4), ("ung", "de", 4),
    ("_un", "de", 3), ("en_", "de", 3), ("nde", "de", 3), ("_di", "de", 3),
    ("ie_", "de", 3), ("cht", "de", 3), ("das", "de", 3), ("mit", "de", 3),
    ("gen", "de", 3), ("_ge", "de", 3), ("eit", "de", 3), ("_zu", "de", 3),
    ("er_", "de", 3), ("ht_", "de", 2), ("ch_", "de", 2), ("_da", "de", 2),
    ("_mi", "de", 2), ("it_", "de", 2), ("ben", "de", 2), ("ter", "de", 2),
    ("ste", "de", 2), ("nen", "de", 2),
    ("_le", "fr", 4), ("le_", "fr", 4), ("que", "fr", 4), ("_de", "fr", 4),
    ("de_", "fr", 4), ("_qu", "fr", 3), ("ue_", "fr", 3), ("_et", "fr", 3),
    ("et_", "fr", 3), ("_la", "fr", 3), ("la_", "fr", 3), ("les", "fr", 3),
    ("ent", "fr", 3), ("nt_", "fr", 3), ("ion", "fr", 3), ("our", "fr", 3),
    ("ais", "fr", 3), ("une", "fr", 3), ("ait", "fr", 3), ("est", "fr", 3),
    ("ont", "fr", 3), ("es_", "fr", 3), ("ans", "fr", 2), ("ns_", "fr", 2),
    ("eur", "fr", 2), ("ur_", "fr", 2), ("_pa", "fr", 2), ("re_", "fr", 2),
    ("_un", "fr", 2), ("ne_", "fr", 2), ("tio", "fr", 2), ("men", "fr", 2),
    ("_de", "es", 4), ("de_", "es", 4), ("_la", "es", 4), ("la_", "es", 3),
    ("los", "es", 4), ("_lo", "es", 3), ("os_", "es", 4), ("_el", "es", 3),
    ("el_", "es", 3), ("que", "es", 4), ("_qu", "es", 3), ("ue_", "es", 3),
    ("as_", "es", 3), ("_en", "es", 2), ("en_", "es", 2), ("nte", "es", 2),
    ("ado", "es", 3), ("_po", "es", 2), ("por", "es", 3), ("or_", "es", 2),
    ("ión", "es", 3), ("_se", "es", 2), ("se_", "es", 2), ("ara", "es", 2),
    ("_co", "es", 2), ("con", "es", 3), ("on_", "es", 2), ("ar_", "es", 2),
    ("es_", "es", 2), ("sta", "es", 2))

  /** The trigram-profile argmax behind [[langId]], usable on any
    * (doc_id, text) relation (the curation gate runs it over the derived
    * dedup corpus, which has no `lang` column). Normalization: lowercase,
    * spaces → '_', one '_' pad on each side; EVERY trigram occurrence scores
    * (frequency matters — Cavnar–Trenkle), weights summed per (doc, lang),
    * then a min_by argmax (score desc, lang asc tie-break — an aggregation,
    * not a ranking window; same R11 rationale as the pipeline argmax). Docs
    * hitting no profile trigram are ABSENT — callers coalesce to 'unknown'.
    * Scan → explode → broadcast join → two hash-aggs: the shape that holds
    * when both the corpus and the profile table grow (a per-language
    * exists() column would re-plan per profile change and stop scaling past
    * a handful of languages). Output: (doc_id, pred_lang, score).
    */
  def predLang(rel: DataFrame): DataFrame = {
    val session = rel.sparkSession
    import session.implicits._
    val profiles = langProfiles.toDF("trigram", "plang", "w")
    val norm = concat(lit("_"), translate(lower(col("text")), " ", "_"), lit("_"))
    rel.select(col("doc_id").cast("long").as("doc_id"), norm.as("norm"))
      // guard: sequence(1, n) DESCENDS for n < 1 (Spark default step -1);
      // a sub-3-char norm must yield no trigrams, not an error
      .select(col("doc_id"), explode(when(length(col("norm")) >= 3, expr(
        "transform(sequence(1, length(norm) - 2), i -> substring(norm, i, 3))"))
        .otherwise(expr("cast(array() as array<string>)"))).as("trigram"))
      .join(broadcast(profiles), "trigram")
      .groupBy(col("doc_id"), col("plang")).agg(sum(col("w")).as("score"))
      .groupBy(col("doc_id"))
      .agg(min_by(struct(col("plang"), col("score")),
        struct((-col("score")).as("ns"), col("plang"))).as("b"))
      .select(col("doc_id"), col("b.plang").as("pred_lang"), col("b.score").as("score"))
  }

  def langId(docs: DataFrame): DataFrame = {
    val best = predLang(docs)
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pred_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"),
        when(coalesce(col("pred_lang"), lit("unknown")) === col("lang"), 1L)
          .otherwise(0L).as("is_match"))
  }

  /** Document fingerprinting: exact-dup key (md5) + a position-weighted
    * rolling hash over token lengths (kept trivially SQL-mirrorable; the
    * production-strength variant is xxhash64 over the raw text, also
    * emitted).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").cast("long").as("doc_id"),
      md5(col("text")).as("md5"),
      (expr("aggregate(transform(split(text, ' '), (t, i) -> cast((i + 1) * length(t) as bigint)), " +
        "cast(0 as bigint), (acc, x) -> acc + x)") % 1000000007L).as("rolling"),
      xxhash64(col("text")).as("xx64"))

  /** Gopher-style repetition signals (Rae et al. 2021, public quality
    * heuristics): duplicate-token fraction and the most-frequent-bigram
    * fraction — the cheap per-doc filters that catch boilerplate and
    * degenerate repetition before any pairwise dedup runs. Fixed-point e4
    * like [[quality]] (single exact-integer division per ratio — the
    * cross-engine-safe pattern). Shape: distinct-token stats are per-row
    * expressions (no shuffle); the top-bigram count is [[topBigramCounts]],
    * the same shape as [[predLang]]. Docs with < 2 tokens have no bigram:
    * left join, ratio 0.
    * Output: (doc_id, n_tokens, dup_token_ratio_e4, top_bigram_n,
    * top_bigram_ratio_e4).
    */
  def repetition(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      split(col("text"), " ").as("ts"))
    val st = base.select(col("doc_id"), size(col("ts")).cast("long").as("nt"),
      size(array_distinct(col("ts"))).cast("long").as("nd"))
    st.join(topBigramCounts(base), Seq("doc_id"), "left")
      .select(col("doc_id"), col("nt").as("n_tokens"),
        floor(lit(10000.0) * (col("nt") - col("nd")) / col("nt"))
          .cast("long").as("dup_token_ratio_e4"),
        coalesce(col("top_n"), lit(0L)).as("top_bigram_n"),
        when(col("nt") > 1,
          floor(lit(10000.0) * coalesce(col("top_n"), lit(0L)) / (col("nt") - 1)))
          .otherwise(lit(0L)).cast("long").as("top_bigram_ratio_e4"))
  }

  /** (doc_id, top_n): the count of each doc's most frequent bigram over a
    * (doc_id, ts) relation, for [[repetition]] and [[gopherFilter]]: the
    * [[TokenGrams]] kernel's bigrams exploded, then two partial-aggregatable
    * hash-aggs keyed by (doc_id, bigram). Docs with < 2 tokens have no row.
    */
  private def topBigramCounts(base: DataFrame): DataFrame =
    base.select(col("doc_id"), explode(TokenGrams.exact(col("ts"), 2)).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_n"))

  /** CCNet-style LANGUAGE-MODEL quality scoring (Wenzek et al. 2020, public
    * construction: rank web documents by the perplexity of an LM trained on
    * a clean reference corpus). Sandbox-exact formulation: the "LM" is the
    * word-BIGRAM count table of a deterministic reference slice
    * (`doc_id % refMod = 0` — in production, the curated reference corpus),
    * and perplexity is proxied by two EXACT integer signals per document:
    *   oov_e4            — fraction of the doc's bigrams unseen in the
    *                       reference (the dominant term of high perplexity)
    *   mean_ref_count_e4 — mean reference count over all the doc's bigrams
    *                       (unseen = 0): in-domain fluency mass
    * (no log/exp — floats would break bit-exact oracle parity; the RANKING
    * the gate thresholds on is what matters, not the perplexity unit).
    * Shape: training is ONE hash-agg over the reference slice's exploded
    * bigrams (model is vocabulary²-bounded, partial-agg collapses repeats
    * map-side); scoring is explode → one equi-join against the model →
    * per-doc hash-agg. The model join broadcasts when the (pruned) model
    * fits — CCNet prunes its LM too — else it shuffles on the bigram key;
    * either way corpus rows shuffle at most once. Docs with < 2 tokens have
    * no bigrams and are absent from the output (identical on the oracle
    * side). Output: (doc_id, n_bigrams, oov_e4, mean_ref_count_e4).
    */
  def lmQuality(docs: DataFrame, refMod: Long = 10L): DataFrame = {
    val bigrams = docs.select(col("doc_id").cast("long").as("doc_id"),
      explode(TokenGrams.exact(split(col("text"), " "), 2)).as("bg"))
    val ref = bigrams.where(col("doc_id") % refMod === 0)
      .groupBy(col("bg")).agg(count(lit(1)).as("c"))
    bigrams.join(ref, Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("noov"),
        sum(coalesce(col("c"), lit(0L))).as("sumc"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("(10000 * noov) div n_bigrams").as("oov_e4"),
        expr("(10000 * sumc) div n_bigrams").as("mean_ref_count_e4"))
  }

  /** Gopher-style DOCUMENT filter (Rae et al. 2021 §A1.1, public rule set) —
    * the one-pass absolute gate pipelines run before any pairwise work. Each
    * rule is a 0/1 FLAG column (1 = rule failed) so downstream can audit WHY
    * a doc fell, plus `kept` = all-pass; thresholds are exact integers (e4
    * fixed-point), calibrated to this corpus so every rule actually bins the
    * data (sf0.01: token floor cuts ~34%, stopword rule ~37%, dup-token
    * ~mid, top-bigram ~7%):
    *   f_len    — n_tokens outside [40, 10000]
    *   f_mwl    — mean token length outside [3, 10] chars (e4)
    *   f_stop   — fewer than 2 DISTINCT stopwords present (Gopher's
    *              "contains ≥2 of the stop set" requirement)
    *   f_dup    — duplicate-token fraction > 0.65
    *   f_bigram — most-frequent-bigram fraction > 0.08
    * Shape: ONE corpus scan; every signal except the bigram top is a per-row
    * expression (no shuffle); the bigram top is [[repetition]]'s
    * [[topBigramCounts]]. At 10^12 docs this is scan-bound —
    * exactly what a first-stage gate must be.
    * Output: (doc_id, n_tokens, f_len, f_mwl, f_stop, f_dup, f_bigram, kept).
    */
  def gopherFilter(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      split(col("text"), " ").as("ts"))
    val st = base.select(col("doc_id"),
      size(col("ts")).cast("long").as("nt"),
      size(array_distinct(col("ts"))).cast("long").as("nd"),
      size(array_distinct(filter(col("ts"),
        t => t.isin(stopwords.map(lit): _*)))).cast("long").as("ndstop"),
      expr("aggregate(transform(ts, t -> cast(length(t) as bigint)), " +
        "cast(0 as bigint), (acc, x) -> acc + x)").as("sumlen"))
    val mwlE4 = floor(lit(10000.0) * col("sumlen") / col("nt")).cast("long")
    val dupE4 = floor(lit(10000.0) * (col("nt") - col("nd")) / col("nt")).cast("long")
    val bigE4 = when(col("nt") > 1, floor(lit(10000.0) *
      coalesce(col("top_n"), lit(0L)) / (col("nt") - 1))).otherwise(lit(0L)).cast("long")
    val flagged = st.join(topBigramCounts(base), Seq("doc_id"), "left").select(
      col("doc_id"), col("nt").as("n_tokens"),
      when(col("nt") < 40 || col("nt") > 10000, 1L).otherwise(0L).as("f_len"),
      when(mwlE4 < 30000L || mwlE4 > 100000L, 1L).otherwise(0L).as("f_mwl"),
      when(col("ndstop") < 2, 1L).otherwise(0L).as("f_stop"),
      when(dupE4 > 6500L, 1L).otherwise(0L).as("f_dup"),
      when(bigE4 > 800L, 1L).otherwise(0L).as("f_bigram"))
    flagged.withColumn("kept",
      when(col("f_len") + col("f_mwl") + col("f_stop") + col("f_dup") +
        col("f_bigram") === 0L, 1L).otherwise(0L))
  }

  /** SOURCE-level gate — the domain/dump-level filter of public web
    * pipelines (C4's blocklists, RefinedWeb/FineWeb per-dump curation): score
    * every SOURCE by the mean quality of its documents, then keep documents
    * whose source clears (mean_quality ≥ 6900 e4, floor-div exact) and has
    * enough mass to trust the estimate (≥ 10 docs). Per-doc thresholds can't
    * catch a systematically-bad source whose individual docs each squeak by;
    * the source aggregate can.
    * Shape: corpus scan with per-row quality exprs → hash-agg keyed by
    * `source` (output is SOURCE-cardinality — metadata-scale: domains number
    * millions while docs number trillions) → broadcast the source verdicts
    * back over the corpus → map-side filter. Two scans of nothing but the
    * corpus; no doc-level shuffle at all.
    * Output: (doc_id, source, src_docs, src_mean_q_e4) of kept docs.
    */
  def sourceGate(docs: DataFrame, minMeanQE4: Long = 6900L,
      minDocs: Long = 10L): DataFrame = {
    val q = docs.select(col("doc_id").cast("long").as("doc_id"), col("source"))
      .join(quality(docs).select(col("doc_id"), col("quality_e4")), "doc_id")
    val bySrc = q.groupBy(col("source")).agg(
      count(lit(1)).as("src_docs"),
      expr("sum(quality_e4) div count(1)").as("src_mean_q_e4"))
      .where(col("src_docs") >= minDocs && col("src_mean_q_e4") >= minMeanQE4)
    q.join(broadcast(bySrc), "source")
      .select(col("doc_id"), col("source"), col("src_docs"), col("src_mean_q_e4"))
  }

  /** Tokenizer-training preprocessing — the corpus-wide adjacent-pair
    * frequency table, i.e. the FIRST iteration of BPE merge selection
    * (Sennrich et al. 2016, public algorithm): count every adjacent token
    * pair across the corpus, return the top candidates (count desc, pair asc
    * — fully deterministic under ties). Full BPE iterates this K times over
    * a shrinking symbol stream; the per-iteration Spark job is EXACTLY this
    * shape, so one verified iteration pins the construction.
    * Shape: scan → explode pairs → hash-agg (partial map-side combine makes
    * the shuffle vocabulary²-bounded, not corpus-bounded) →
    * TakeOrderedAndProject (never a full sort).
    * Output: top-`k` (pair, cnt).
    */
  def bpePairs(docs: DataFrame, k: Int = 30): DataFrame =
    docs.select(explode(TokenGrams.exact(split(col("text"), " "), 2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)

  /** Eval-set DECONTAMINATION — the n-gram containment check every serious
    * pretraining pipeline runs before training (public practice since GPT-2's
    * 8-gram overlap appendix): flag a training doc when it contains ≥ 50% of
    * an eval doc's distinct n-grams. The eval slice here is carved from the
    * corpus itself (doc_id ≡ evalRem mod evalMod — deterministic, no external
    * data), which also plants guaranteed positives: every eval doc flags
    * itself at 100% containment, and near-dups of eval docs flag at high
    * containment.
    *
    * Shape: both sides reuse [[Dedup.shingles]] (distinct n-grams); the eval
    * side is BROADCAST (eval suites are metadata-sized by nature — a few
    * thousand docs; for an unusually large suite the same plan runs as a
    * shuffle equi-join on the shingle key) and the containment count is one
    * hash-agg per (train_doc, eval_doc) pair that shares at least one
    * n-gram — never a cartesian.
    * Output: (doc_id, eval_id, common, eval_n) for flagged pairs.
    */
  def decontaminate(docs: DataFrame, n: Int = 5,
      evalMod: Long = 97L, evalRem: Long = 3L): DataFrame = {
    // spreadSmall: the shingle generation runs map-side on the corpus scan,
    // which for a small input is 1–3 tasks (see Dedup.spreadSmall)
    val corpus = Dedup.spreadSmall(
      docs.select(col("doc_id").cast("long").as("doc_id"), col("text")),
      col("doc_id"))
    val sh = Dedup.shingles(corpus, n)
    val ev = sh.where(pmod(col("doc_id"), lit(evalMod)) === evalRem)
      .select(col("doc_id").as("eval_id"), col("s"))
    val en = ev.groupBy(col("eval_id")).agg(count(lit(1)).as("eval_n"))
    sh.join(broadcast(ev), "s")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(en), "eval_id")
      .where(col("common") * 2 >= col("eval_n"))
      .select(col("doc_id"), col("eval_id"), col("common"), col("eval_n"))
  }

  /** End-to-end corpus CURATION — the compound operator a training-data
    * pipeline actually runs: per-doc stats ([[quality]] + [[predLang]]) over
    * the derived dedup corpus, an exact integer/string gate
    * (quality_e4 ≥ min AND predicted language allowed), then the full dedup
    * DECISION ([[graft.ops.Dedup.dupClusters]]: exact collapse → MinHash-LSH
    * → connected components) over the SURVIVORS of the gate, emitting only
    * each duplicate cluster's keeper. Every stage is a relation the earlier
    * queries verify in isolation; this query verifies their COMPOSITION
    * against one DuckDB oracle (gate replicated in SQL, dedup via the
    * recursive-CTE reachability construction). Gate thresholds are
    * fixed-point integers / strings so the cut is bit-exact on both sides.
    * Output: (doc_id, pred_lang, n_tokens, quality_e4) of kept docs.
    */
  /** PERCENTILE quality cut — "keep the best p of every language", the
    * relative-threshold companion to [[curate]]'s absolute gate (an absolute
    * cut drifts as the corpus mix shifts; production pipelines pin the kept
    * FRACTION per stratum). Semantics: per lang, v = the quality_e4 of the
    * ⌊n·p⌋-th doc in (quality desc, doc_id asc) order; keep every doc with
    * quality_e4 ≥ v (boundary TIES are kept — a value threshold, the
    * standard quality-filter contract; p = pNumer/pDenom in exact integer
    * arithmetic).
    *
    * An exact per-stratum percentile normally means ranking a whole stratum
    * — the sort-a-language-on-one-task failure [[Sampling.stratifiedTopK]]
    * avoids. quality_e4 lives in the BOUNDED domain [0, 10⁴], so the
    * two-phase histogram restatement is exact:
    *   1. one hash-agg to (lang, quality_e4) counts — ≤ |langs|·10⁴ rows,
    *      metadata-scale at any corpus size;
    *   2. top-down running totals + the threshold pick, windowed over that
    *      tiny relation only;
    *   3. one broadcast join + filter over the corpus — map-side, no
    *      doc-level ordering anywhere.
    * Strata with ⌊n·p⌋ = 0 keep nothing (the k ≥ 1 guard).
    * Output: (doc_id, lang, quality_e4) of kept docs.
    */
  def qualityTopP(docs: DataFrame, pNumer: Int = 1, pDenom: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
      col("text"))
      .join(quality(docs).select(col("doc_id"), col("quality_e4")), "doc_id")
      .select(col("doc_id"), col("lang"), col("quality_e4"))
    val wTop = Window.partitionBy(col("lang")).orderBy(col("quality_e4").desc)
    val v = q.groupBy(col("lang"), col("quality_e4")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wTop))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
      .withColumn("k", expr(s"(n * $pNumer) div $pDenom"))
      .where(col("k") >= 1 && col("cum") >= col("k"))
      .groupBy(col("lang")).agg(max(col("quality_e4")).as("v"))
    q.join(broadcast(v), "lang")
      .where(col("quality_e4") >= col("v"))
      .select(col("doc_id"), col("lang"), col("quality_e4"))
  }

  def curate(docs: DataFrame, minQualityE4: Long = 7000L,
      langs: Seq[String] = Seq("en")): DataFrame = {
    val corpus = Dedup.derivedCorpus(docs)
    val stats = quality(corpus).select("doc_id", "n_tokens", "quality_e4")
    val lang = predLang(corpus).select("doc_id", "pred_lang")
    // the gate output is pinned ([[graft.Pin]]): it is read by TWO actions
    // (dupClusters' own pin of its collapse, and the keepers join below),
    // and un-pinned each re-ran the whole gate — quality scan, predLang
    // trigram explode + broadcast join + two hash-aggs. The pin is
    // gate-OUTPUT-sized (survivors only), always smaller than the corpus
    // passes it avoids.
    val kept = graft.Pin(
      corpus.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .join(stats, "doc_id")
      .join(lang, Seq("doc_id"), "left")
      .withColumn("pred_lang", coalesce(col("pred_lang"), lit("unknown")))
      .where(col("quality_e4") >= minQualityE4 &&
        col("pred_lang").isin(langs.map(x => x: Any): _*)))
    val keepers = Dedup.dupClusters(kept.select(col("doc_id"), col("text")))
      .where(col("is_dup") === 0L).select("doc_id")
    kept.join(keepers, "doc_id")
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"), col("quality_e4"))
  }

  /** Email pattern shared by the engine and the oracle — a deliberately
    * conservative public-pipeline shape (lowercase host mail), portable
    * between Java regex (Spark) and RE2 (DuckDB): no lookarounds, no
    * backrefs.
    */
  private[graft] val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** International-format phone runs: `+` then digit groups separated by
    * single spaces. Same portability constraints as [[EmailPat]].
    */
  private[graft] val PhonePat = "\\+[0-9]+( [0-9]+)+"

  /** Deterministic contact-planted corpus for the PII queries: doc_id%3==0
    * gains an email, doc_id%4==0 a phone number (both closed-form in
    * doc_id, so the oracle replants them verbatim). The driver corpus is
    * clean word tokens — without planting, redaction would be a no-op and
    * verify nothing.
    */
  def piiPlantedCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" kontakt: hr"), col("doc_id"), lit("@firma"),
            col("doc_id") % 7, lit(".ch"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" tel: +41 79 "), col("doc_id") % 1000, lit(" "),
            col("doc_id") % 100)).otherwise(lit(""))).as("text"))

  /** PII scrubbing — the redaction stage every public training-data
    * pipeline runs before anything ships (emails and phone numbers →
    * typed placeholder tokens, plus per-doc counts for the audit trail).
    * Purely row-local: one scan, two regexp_replace + two regexp_count
    * per row, ZERO shuffles — the map-side shape that scales to any
    * corpus size (the partial-pipeline analogue of [[gopherFilter]]).
    * Email placeholders are substituted before phone matching so the two
    * patterns can never overlap-race.
    * Output: (doc_id, redacted, n_emails, n_phones).
    */
  def redactPii(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id").cast("long").as("doc_id"),
      regexp_replace(
        regexp_replace(col("text"), lit(EmailPat), lit("<EMAIL>")),
        lit(PhonePat), lit("<PHONE>")).as("redacted"),
      regexp_count(col("text"), lit(EmailPat)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhonePat)).cast("long").as("n_phones"))
}
