package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.kg.expr.functions.hash60

/** Deterministic corpus sampling — the data-mixing step of a training-data
  * pipeline (per-language / per-source mixture weights, held-out split
  * carving, downsampling boilerplate-heavy strata). Sampling at 100 TB must
  * be (a) deterministic and re-runnable (a re-run of the job selects the SAME
  * rows — no RNG state, no `rand()`), (b) map-side (a sample is a filter, it
  * must never shuffle the corpus), and (c) stratum-aware (rates are per-key,
  * not global). Both operators key their decision on a salted md5 of the
  * STABLE doc_id — the same portable-hash construction the dedup family uses
  * (Dedup.portableBaseHash), so the DuckDB oracles replicate the exact
  * selection bit-for-bit.
  */
object Sampling {

  /** Per-language keep rates in 1e4 fixed point (en 50%, de/fr 25%,
    * es/zh 10%) — the "target mixture" a multilingual pretraining corpus
    * would configure. Shared verbatim with the DuckDB oracle (OpsEntries) —
    * change both together.
    */
  val defaultRates: Seq[(String, Long)] = Seq(
    ("en", 5000L), ("de", 2500L), ("fr", 2500L), ("es", 1000L), ("zh", 1000L))

  /** The shared deterministic-bucket constructor: 60-bit md5 integer of the
    * salted doc id, mod 10⁴. Each sampling operator instantiates it under
    * its OWN salt so a doc's fate in one operator never correlates with its
    * fate in another (or with its dedup bucket) — the salt is the only
    * degree of freedom, so a portability or hash-width change lands in all
    * operators (and must land in the DuckDB oracles) at once.
    */
  private def saltedBucket(salt: String)(docId: Column): Column =
    hash60(concat(lit(salt), docId.cast("string"))) % 10000L

  /** Null-safe whitespace token count: NULL text → NULL tokens (matching
    * DuckDB's len(string_split(NULL))), independent of the session's
    * spark.sql.legacy.sizeOfNull setting (legacy size(NULL) = -1 would
    * silently shift every budget total by -1 per null doc).
    */
  private def nTokens: Column =
    when(col("text").isNotNull, size(split(col("text"), " ")).cast("long"))

  /** Deterministic Bernoulli-sampling bucket ("smp:"-salted). */
  private[graft] def bucket(docId: Column): Column = saltedBucket("smp:")(docId)

  /** Rate-based stratified Bernoulli sample: keep a doc iff its bucket falls
    * below its language's rate. Plan: scan → broadcast-join the |langs|-row
    * rate table → filter — purely map-side, zero shuffles, trivially
    * embarrassing-parallel at any corpus size. Languages absent from `rates`
    * are dropped (rate 0) by the inner join.
    * Output: (doc_id, lang, bucket).
    */
  def stratifiedSample(docs: DataFrame,
      rates: Seq[(String, Long)] = defaultRates): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val r = rates.toDF("lang", "rate_e4")
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        bucket(col("doc_id")).as("bucket"))
      .join(broadcast(r), "lang")
      .where(col("bucket") < col("rate_e4"))
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** Exact-size stratified sample: the k docs per language with the SMALLEST
    * sampling buckets (ties by doc_id) — "give me exactly k docs per
    * stratum", deterministically. This is bottom-k-per-key, i.e. the same
    * hot-key ranking problem as [[Similarity.batchTopK]]: a language is a
    * huge partition at corpus scale, so a single ranking window would sort a
    * whole stratum on one task. Two-level salted ranking instead: a salted
    * window keeps ≤ k rows per (lang, salt) — each task sorts ~|stratum|/salts
    * rows — then the final window ranks only ≤ k·salts survivors per lang.
    * Output: (doc_id, lang, rank), rank ∈ [1, k] by (bucket, doc_id).
    */
  def stratifiedTopK(docs: DataFrame, k: Int = 40, salts: Int = 16): DataFrame =
    saltedBottomK(
      docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        bucket(col("doc_id")).as("bucket")),
      keyCol = "bucket", k = k, salts = salts)
      .select(col("doc_id"), col("lang"), col("rank").cast("long").as("rank"))

  /** The two-level salted bottom-k selection shared by [[stratifiedTopK]]
    * and [[weightedTopK]]: rank per (lang, salt) first — each task sorts
    * ~|stratum|/salts rows — keep ≤ k per salted group, then rank the
    * ≤ k·salts survivors per lang. Provably identical to one whole-stratum
    * window ordered by (`keyCol` asc, doc_id asc), but no task ever sorts a
    * whole stratum. Adds a `rank` ∈ [1, k] column; selection mechanics
    * (salt count, tie-break, prerank bound) live ONLY here.
    */
  private def saltedBottomK(df: DataFrame, keyCol: String, k: Int,
      salts: Int): DataFrame = {
    val ord = Seq(col(keyCol).asc, col("doc_id").asc)
    val wSalted = Window.partitionBy(col("lang"), col("salt")).orderBy(ord: _*)
    val wFinal = Window.partitionBy(col("lang")).orderBy(ord: _*)
    df.withColumn("salt", pmod(xxhash64(col("doc_id")), lit(salts)).cast("int"))
      .withColumn("prerank", row_number().over(wSalted))
      .where(col("prerank") <= k)
      .withColumn("rank", row_number().over(wFinal))
      .where(col("rank") <= k)
  }

  /** The budget-fill bucket hash: same 60-bit-md5-mod-10⁴ construction as
    * [[bucket]], "bud:"-salted so a doc's budget fate is independent of its
    * Bernoulli-sampling bucket.
    */
  private[graft] def budgetBucket(docId: Column): Column =
    saltedBucket("bud:")(docId)

  /** TOKEN-BUDGET sampling — "give me ≤ B training tokens per source,
    * deterministically": the mixture knob real pretraining runs configure is
    * a token budget per domain, not a document count ([[stratifiedTopK]]) or
    * a rate ([[stratifiedSample]]). Semantics: order each source's docs by
    * (budget-bucket, doc_id) — a deterministic shuffle — and keep the prefix
    * whose running token total stays ≤ B.
    *
    * A prefix sum is inherently sequential per stratum, so the naive plan
    * (one ranking window per source) sorts a WHOLE source on one task —
    * exactly the hot-stratum failure [[stratifiedTopK]] avoids. This is the
    * two-phase restatement:
    *   1. per-(source, bucket) token totals: one hash-agg to a relation of
    *      ≤ |sources|·10⁴ rows — metadata-scale at ANY corpus size;
    *   2. bucket-level running totals over that tiny relation (the only
    *      full-stratum ordering, 10⁴ rows per source);
    *   3. docs in buckets whose running total fits keep UNCONDITIONALLY —
    *      no doc-level ordering ever touches them (the bulk of the corpus);
    *   4. only the single BOUNDARY bucket per source (~1/10⁴ of the stratum)
    *      gets a doc-level running-sum window, partitioned by
    *      (source, bucket).
    * The kept set is IDENTICAL to the naive single-window definition (the
    * DuckDB oracle states it that way); the doc-level cum_tokens column is
    * reconstructed as bucket-prefix + within-bucket running sum.
    *
    * Output: (doc_id, source, n_tokens, cum_tokens) for kept docs, where
    * cum_tokens ≤ budget is the doc's position in the source's running
    * total.
    */
  def tokenBudget(docs: DataFrame, budget: Long = 600L): DataFrame =
    prefixFill(
      docs.select(col("doc_id").cast("long").as("doc_id"), col("source"),
          nTokens.as("n_tokens"),
          budgetBucket(col("doc_id")).as("bucket"))
        .withColumn("budget", lit(budget)),
      "source")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))

  /** The two-phase budget-prefix fill shared by [[tokenBudget]] (scalar
    * budget) and [[mixtureBudget]] (per-stratum budgets): `based` carries
    * (doc_id, `key`, n_tokens, bucket, budget) with `budget` constant per
    * stratum; kept set = the docs whose per-stratum running token total in
    * (bucket, doc_id) order fits the stratum's budget — IDENTICAL to the
    * naive single-window prefix definition, but no window ever spans a
    * whole stratum (phase shapes documented at [[tokenBudget]]).
    */
  private def prefixFill(based: DataFrame, key: String): DataFrame = {
    // phase 1+2: bucket histogram + bucket-level running totals (tiny)
    val wB = Window.partitionBy(col(key)).orderBy(col("bucket"))
    val bcum = based.groupBy(col(key), col("bucket"))
      .agg(sum(col("n_tokens")).as("bt"))
      .withColumn("cum", sum(col("bt")).over(wB))
      .withColumn("prior", col("cum") - col("bt"))
    // phase 3: docs in fully-fitting buckets need only their within-bucket
    // running sum to report cum_tokens (window key (key, bucket) —
    // ~1/10⁴ of a stratum per partition)
    val wDoc = Window.partitionBy(col(key), col("bucket"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = based.join(bcum, Seq(key, "bucket"))
      .withColumn("cum_tokens", col("prior") + sum(col("n_tokens")).over(wDoc))
    // full buckets pass outright; the boundary bucket keeps its fitting
    // prefix — together exactly the docs with cum_tokens <= budget
    joined.where(col("cum") <= col("budget") ||
      (col("prior") < col("budget") && col("cum_tokens") <= col("budget")))
  }

  /** Target LANGUAGE MIXTURE in 1e4 fixed point (en 40%, de/fr/es/zh 15%
    * of training tokens) — the headline data-mixing knob of a pretraining
    * run: shares of the FINAL corpus, not keep rates. Shared verbatim with
    * the DuckDB oracle (OpsEntries) — change both together.
    */
  val defaultShares: Seq[(String, Long)] = Seq(
    ("en", 4000L), ("de", 1500L), ("fr", 1500L), ("es", 1500L), ("zh", 1500L))

  /** Mixture bucket: the [[bucket]] construction under a "mix:" salt, so a
    * doc's mixture fate is independent of its Bernoulli/budget buckets.
    */
  private[graft] def mixBucket(docId: Column): Column =
    saltedBucket("mix:")(docId)

  /** MIXTURE-targeted token budgets — "give me the LARGEST corpus whose
    * language composition is exactly `shares`": the way real pretraining
    * mixtures are specified (LLaMA/Pile-style target proportions), as
    * opposed to [[tokenBudget]]'s absolute per-stratum caps. The budget a
    * proportion implies depends on AVAILABILITY: the binding stratum is the
    * one that runs out first, argmin over strata of T_l / share_l (T_l =
    * available tokens), total = min_l(T_l·1e4 div share_l) in fixed point,
    * budget_l = share_l · total div 1e4. Then each stratum keeps its
    * deterministic (mix-bucket, doc_id)-ordered prefix fitting budget_l —
    * the [[prefixFill]] two-phase plan, no stratum-sized sort.
    *
    * Scale shape: pass 1 is one partial-agg (map-side combine) to |langs|
    * rows; total/budgets are metadata-scale (|langs| rows, one broadcast);
    * pass 2 is the prefixFill. The 3-column corpus projection is evaluated
    * by the availability agg AND by prefixFill's histogram + join —
    * deliberately unpersisted: caching a corpus-scale projection costs more
    * memory/spill at 100 TB than re-running a pruned 3-column scan. Budgets use decimal(38,0) intermediates:
    * share·total overflows int64 around 1e15 available tokens — a corpus
    * size this engine is explicitly designed for. A share language absent
    * from the corpus makes the mixture infeasible: T=0 binds total to 0 and
    * the result is empty (the honest answer, stated here as contract).
    *
    * Output: (doc_id, lang, n_tokens, cum_tokens, budget), kept iff
    * cum_tokens ≤ budget; budget is the stratum's mixture-implied cap.
    */
  def mixtureBudget(docs: DataFrame,
      shares: Seq[(String, Long)] = defaultShares): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val s = shares.toDF("lang", "share_e4")
    val base = docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
      nTokens.as("n_tokens"),
      mixBucket(col("doc_id")).as("bucket"))
    // availability pass: |langs| rows after map-side partial agg; LEFT join
    // from shares so an absent stratum yields T=0 (infeasible mixture)
    val totals = s.join(
        base.groupBy(col("lang")).agg(sum(col("n_tokens")).as("t")),
        Seq("lang"), "left")
      .withColumn("t", coalesce(col("t"), lit(0L)))
      .withColumn("cap", expr(
        "cast(cast(t as decimal(38,0)) * 10000 div share_e4 as bigint)"))
    val total = totals.agg(min(col("cap")).as("total"))
    val budgets = s.crossJoin(broadcast(total)) // 1-row scalar fan-out
      .withColumn("budget", expr(
        "cast(cast(share_e4 as decimal(38,0)) * total div 10000 as bigint)"))
      .select(col("lang"), col("budget"))
    prefixFill(base.join(broadcast(budgets), "lang"), "lang")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"),
        col("budget"))
  }

  /** WEIGHTED exact-k stratified sample — probability-proportional-to-weight
    * WITHOUT replacement (Efraimidis & Spirakis 2006 semantics), integer-
    * exact: instead of the float key u^(1/w) the paper uses, each doc draws
    * `w` independent 60-bit hashes ("wsmp:doc_id:r", r = 1..w) and keys on
    * their MINIMUM. Taking strata bottom-k by that key is EXACTLY successive
    * w_i/Σw_remaining sampling (the replication equivalence: order all Σw
    * draws, select items by first appearance), with pure integer compares —
    * which is what makes a bit-exact DuckDB oracle possible where a
    * pow()-keyed plan would drift on float libm differences.
    *
    * Weight here = length-proportional sampling mass, capped:
    * w = clamp(n_tokens div 20, 1, 8). The O(w≤8) hashes are computed in
    * ONE codegen'd projection (`transform(sequence(1,w))` + `array_min` —
    * no explode, no fan-out rows); selection is the same two-level salted
    * bottom-k as [[stratifiedTopK]] (no task ever sorts a whole stratum).
    * Output: (doc_id, lang, weight, rank), rank ∈ [1,k] by (key, doc_id).
    */
  def weightedTopK(docs: DataFrame, k: Int = 40, salts: Int = 16): DataFrame =
    saltedBottomK(
      docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          nTokens.as("n_tokens"))
        // token count via the shared nTokens guard; NULL text → NULL, and
        // greatest picks the 1 floor (greatest ignores NULLs in Spark AND
        // DuckDB — identical minimum weight). Integer `div` directly (not
        // floor(x/20.0)): unconditionally exact for every long, no float
        // round-trip (round-6 advice item).
        .select(col("doc_id"), col("lang"),
          least(greatest(expr("n_tokens div 20"), lit(1L)),
            lit(8L)).as("weight"))
        .withColumn("skey", wsmpKey),
      keyCol = "skey", k = k, salts = salts)
      .select(col("doc_id"), col("lang"), col("weight"),
        col("rank").cast("long").as("rank"))

  /** The production replication key of [[weightedTopK]]: min of `weight`
    * independent 60-bit draws "wsmp:doc_id:r", r = 1..weight, in ONE
    * codegen'd projection (no explode). Exposed so the spec's monotonicity
    * fixture exercises THIS expression, not a test-local reimplementation.
    */
  private[graft] def wsmpKey: Column =
    array_min(transform(sequence(lit(1L), col("weight")), r =>
      hash60(concat(lit("wsmp:"), col("doc_id").cast("string"), lit(":"), r.cast("string")))))
}
