package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ScalingBench
import graft.kg.canon.ConnectedComponents
import graft.ops.Dedup

/** The from-scratch dedup decision (`Dedup.dupClusters`) at the production
  * 16x2 LSH geometry over the family-structured stress corpus. One operation
  * decides every document and writes the decision table.
  */
final class DedupBatch(ctx: Ctx) extends Workload {
  import ctx.spark

  val name = "dedup_batch"
  /** 1,000 base documents replicated 20 ways (one family block: 10% exact
    * copies, 10% near-duplicates, 80% unique): 20,000 documents.
    */
  private val BaseDocs = ctx.docs(1000)
  private val Repl = 20
  private val Bands = 16
  private val Rows = 2

  private val offset = Inputs.docOffset(ctx.seed)
  private var corpusDir = ""
  private var first: Option[(Long, Long, Long)] = None

  def setup(dir: String): Unit = {
    val sf = Inputs.writeDocuments(spark, s"$dir/docs", BaseDocs)
    Inputs.salted(ScalingBench.dedupStressCorpus(spark, sf, Repl, ctx.partitions),
      Inputs.tagSalt(ctx.seed))
      .withColumn("doc_id", col("doc_id") + offset)
      .write.parquet(s"$dir/corpus")
    corpusDir = s"$dir/corpus"
  }

  def prepare(): Unit = ()

  /** `Dedup.dupClusters` taken apart into its layer calls, each forced in its
    * own span; the decision tail is dupClusters' own (traced runs only).
    */
  private def tracedDecision(corpus: DataFrame): DataFrame = {
    val (reps, members) = ctx.span("ops.dedup.exact") {
      val (r, m) = Dedup.exactCollapse(corpus)
      (ctx.force(r), ctx.force(m))
    }
    val sh = ctx.span("ops.dedup.shingles")(ctx.force(
      Dedup.shingles(reps.select(col("rep_id").as("doc_id"), col("text")))))
    val (cands, nCands) = ctx.span("ops.dedup.lsh") {
      val c = ctx.force(Dedup.lshCandidates(sh, Bands, Rows, portable = false, maxBucket = 1000))
      val n = c.count()
      ctx.note("candidates", n.toDouble)
      (c, n)
    }
    val pairs = ctx.span("ops.dedup.verify") {
      val p = ctx.force(Dedup.verifyJaccard(cands, sh, 1, 2))
      ctx.note("kept_ratio", p.count().toDouble / math.max(1L, nCands))
      p
    }
    val comps = ctx.span("kg.canon.cc")(ctx.force(ConnectedComponents
      .run(pairs.select(col("a").as("src"), col("b").as("dst")))
      .select(col("node").as("rep_id"), col("component"))))
    members
      .join(Dedup.repShingleSizes(sh), Seq("rep_id"), "left")
      .join(comps, Seq("rep_id"), "left")
      .select(col("doc_id"),
        when(col("n").isNull, col("doc_id"))
          .otherwise(coalesce(col("component"), col("rep_id"))).as("keep_id"))
      .select(col("doc_id"), col("keep_id"),
        when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L).as("is_dup"))
  }

  /** Decisions the stress corpus plants, whatever the LSH draws: doc
    * `d * Repl + r` (plus the offset) is an exact copy of its base when
    * r % 10 == 0, a near-duplicate when r % 10 == 1, and unique otherwise.
    * Exact copies keep the base (r = 0), uniques keep themselves, and a
    * near-duplicate keeps a document of its own base's group.
    */
  private[perfbench] def plantedViolations(decision: DataFrame): Long = {
    val r = pmod(col("doc_id") - offset, lit(Repl.toLong))
    val base = col("doc_id") - r
    decision.where(
      (col("is_dup") =!= when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)) ||
        (r % 10 === 0 && col("keep_id") =!= base) ||
        (r % 10 === 1 && (col("keep_id") < base || col("keep_id") > col("doc_id"))) ||
        (r % 10 > 1 && col("keep_id") =!= col("doc_id")))
      .count()
  }

  private def decide(): (Double, Seq[Check]) = {
    val out = ctx.freshDir("dedup-out")
    val t0 = System.nanoTime()
    val corpus = spark.read.parquet(corpusDir)
    val decision =
      if (ctx.tracing) tracedDecision(corpus)
      else Dedup.dupClusters(corpus, bands = Bands, rows = Rows)
    decision.write.parquet(out)
    val wall = Workload.seconds(t0)

    val written = spark.read.parquet(out)
    val r = written.agg(count(lit(1)), sum(col("is_dup")),
      sum(hash(col("doc_id"), col("keep_id")).cast("long"))).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    if (first.isEmpty) first = Some(got)
    val checks = Seq(
      Checks.eq("dedup_batch docs decided", got._1, BaseDocs.toLong * Repl),
      Checks.eq("dedup_batch planted decisions violated", plantedViolations(written), 0L),
      Checks.eq("dedup_batch (docs, dups, keep hash) = first operation's", Some(got), first)) ++
      ctx.expected.get(name, ctx.seed).toSeq.map(e => Checks.eq(
        "dedup_batch (dups, keep hash) = recorded", (got._2, got._3),
        (e.get("dups").asLong, e.get("keep_hash").asLong)))
    if (checks.forall(_.ok)) Main.record(name, ctx.seed, Json.obj(Seq(
      "dups" -> got._2.toString, "keep_hash" -> got._3.toString)))
    ctx.discard(out)
    (wall, checks)
  }

  def measure(deadlineNs: Long): Measurement = {
    val (lat, attempted, failed) = Workload.closedLoop(deadlineNs, 1)(() => decide())
    val perS = BaseDocs.toDouble * Repl / Stats.median(lat)
    Measurement(lat, perS, attempted, failed, Seq(
      ("docs_per_s", perS, "docs/s"),
      ("decision_p50_s", Stats.median(lat), "s"),
      ("decisions", lat.size.toDouble, "count")))
  }

  def unit(): (Double, Seq[Check]) = decide()
}
