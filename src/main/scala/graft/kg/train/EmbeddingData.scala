package graft.kg.train

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kg.expr.functions.hash60

/** KG-embedding training-data generation — the step between the committed
  * triple store and a TransE/DistMult-style trainer (Bordes et al. 2013):
  * every positive triple is paired with `k` FILTERED negatives (corrupted
  * objects that are not themselves true triples — unfiltered negatives
  * mislabel ~valid facts and measurably hurt embeddings).
  *
  * Corruption is deterministic: candidate j for triple (s, p, o) replaces
  * o with the vocabulary entry at index `hash60(s|o|j) mod |vocab|` — the
  * same portable md5-60 hash the dedup/sketch family uses, so the DuckDB
  * oracle regenerates the exact candidate set; "random" distribution
  * without a random source (reruns, resumes, and the oracle all agree).
  *
  * Shape: one corpus-scale pass — per-triple explode of the j range (k
  * rows per positive, never corpus×vocab), the corruption index computed
  * row-local, the vocabulary joined by broadcast (object vocabularies are
  * metadata-sized per predicate; for a 10^9-entity open domain swap the
  * broadcast for an equi-join on the index against a numbered entity
  * table), and ONE left-anti equi-join against the true triples of the
  * same predicate implements the filter. A corrupted candidate equal to
  * some true (s, p, o') drops out there — including o itself.
  */
object EmbeddingData {

  /** Filtered negative samples for one predicate's triples. `vocab` is the
    * object vocabulary to corrupt into (size |vocab|, broadcast); emits
    * (subj, pred, obj, obj_neg, neg_i) with k candidates per positive
    * minus the filtered ones.
    */
  def negativeSamples(triples: DataFrame, pred: String,
      vocab: Seq[String], k: Int = 2): DataFrame = {
    val session = triples.sparkSession
    import session.implicits._
    val pos = triples.where(col("pred") === pred)
      .select(col("subj"), col("pred"), col("obj"))
    val vocabDf = vocab.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vi", "v")
    val cand = pos
      .select(col("subj"), col("pred"), col("obj"),
        expr(s"explode(sequence(0L, ${k - 1}L))").as("neg_i"))
      .withColumn("vi",
        pmod(hash60(concat_ws("|", col("subj"), col("obj"), col("neg_i"))),
          lit(vocab.size.toLong)))
      .join(broadcast(vocabDf), "vi")
      .select(col("subj"), col("pred"), col("obj"),
        col("v").as("obj_neg"), col("neg_i"))
    // the FILTER: drop candidates that are true triples (s, p, obj_neg) —
    // one left-anti equi-join against the positives of this predicate
    cand.join(
      pos.select(col("subj"), col("obj").as("obj_neg")),
      Seq("subj", "obj_neg"), "left_anti")
      // using-columns joins move the join keys to the front — pin the
      // contract order explicitly
      .select(col("subj"), col("pred"), col("obj"), col("obj_neg"), col("neg_i"))
  }

  /** SUBJECT-side (head) corruption — the other half of Bordes et al.'s
    * protocol (corrupt head OR tail; [[negativeSamples]] is the tail
    * half). Head domains (docs/entities) are corpus-scale, so unlike the
    * metadata-scale object vocabularies the head vocabulary is a
    * DATAFRAME `(vi, v)` indexed 0..nVocab-1, never driver state: the
    * corruption index reaches it through one equi-join (broadcast under
    * the planner's threshold, shuffle join past it — the numbered-entity-
    * table shape the [[negativeSamples]] doc prescribes for open
    * domains). The hash input carries an 's' tag so head and tail
    * candidates of the same (s, o, j) never correlate. Filter: a
    * candidate (s', p, o) that is itself a true triple drops via ONE
    * left-anti equi-join on (subj_neg, obj).
    * Output: (subj, pred, obj, subj_neg, neg_i).
    */
  def negativeSamplesSubject(triples: DataFrame, pred: String,
      subjVocab: DataFrame, nVocab: Long, k: Int = 2): DataFrame = {
    val pos = triples.where(col("pred") === pred)
      .select(col("subj"), col("pred"), col("obj"))
    val cand = pos
      .select(col("subj"), col("pred"), col("obj"),
        expr(s"explode(sequence(0L, ${k - 1}L))").as("neg_i"))
      .withColumn("vi",
        pmod(hash60(concat_ws("|",
          col("subj"), col("obj"), col("neg_i"), lit("s"))), lit(nVocab)))
      .join(subjVocab, "vi")
      .select(col("subj"), col("pred"), col("obj"),
        col("v").as("subj_neg"), col("neg_i"))
    cand.join(pos.select(col("subj").as("subj_neg"), col("obj")),
        Seq("subj_neg", "obj"), "left_anti")
      .select(col("subj"), col("pred"), col("obj"),
        col("subj_neg"), col("neg_i"))
  }

  /** Skip-gram pair counts from a walk corpus — the step between
    * [[graft.kg.graph.GraphOps.randomWalksOnEdges]] and a word2vec-style
    * entity embedding trainer (Mikolov et al. 2013): every ordered (center,
    * context) co-occurrence within ±`window` walk positions, counted over
    * the whole corpus. The counted table IS the trainer input (and is
    * vocabulary²-BOUNDED regardless of corpus size — same envelope as
    * [[graft.ops.TextOps.bpePairs]]).
    *
    * Shape: ONE self-equi-join on walk_id (per-walk fan-out bounded by
    * (steps+1)·2·window, never corpus-quadratic) → count hash-agg
    * (partial-aggregatable map-side: hot pairs collapse before the
    * shuffle). The walks input is pinned first ([[graft.Pin]])
    * — load-bearing, not hygiene: walks are an
    * ITERATIVE derivation and the self-join references them twice, so an
    * un-materialized input would execute the whole walk computation once
    * per side.
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    val w = graft.Pin(walks)
    w.select(col("walk_id"), col("step").as("i"), col("node").as("center"))
      .join(w.select(col("walk_id"), col("step").as("j"),
        col("node").as("context")), "walk_id")
      .where(col("i") =!= col("j") &&
        abs(col("i") - col("j")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }
}
