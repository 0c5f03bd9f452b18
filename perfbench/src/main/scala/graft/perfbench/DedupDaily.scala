package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ScalingBench
import graft.ops.{Dedup, IncrementalDedup}

/** The daily dedup lifecycle: a base state committed once
  * (`IncrementalDedup.commitState`), then a fixed sequence of small shards
  * folded one by one (`commitIncrement`) with a compaction (`compact`)
  * after every [[CompactEvery]] folds. Each fold and each compaction is one
  * operation; every sequence starts from a fresh copy of the base state,
  * because fold latency grows with the uncompacted increments.
  */
final class DedupDaily(ctx: Ctx) extends Workload {
  import ctx.spark

  val name = "dedup_daily"
  /** 200 base documents replicated 20 ways: 4,000 documents, hashed by
    * doc_id into [[BasePart]] + [[PoolShards]] buckets: the first
    * [[BasePart]] form the base (part 0), each other one is a pool shard
    * (parts 1 to [[PoolShards]]).
    */
  private val BaseDocs = ctx.docs(200)
  private val Repl = 20
  private val PoolShards = 16
  private val BasePart = 8
  private val Folds = 2
  private val CompactEvery = 2
  private val Bands = 16
  private val Rows = 2

  /** The shards this seed folds, in order. */
  private val shards: Seq[Int] =
    new scala.util.Random(ctx.seed).shuffle((1 to PoolShards).toList).take(Folds)

  /** The fixed sequence: Some(shard) folds a shard, None compacts. */
  private val sequence: Seq[Option[Int]] = shards.zipWithIndex.flatMap { case (s, i) =>
    Some(s) +: (if ((i + 1) % CompactEvery == 0) Seq(None) else Seq())
  }

  private var root = ""
  private def part(p: Int): DataFrame = spark.read.parquet(s"$root/corpus/part=$p")

  def setup(dir: String): Unit = {
    val sf = Inputs.writeDocuments(spark, s"$dir/docs", BaseDocs)
    val bucket = pmod(xxhash64(col("doc_id")), lit((BasePart + PoolShards).toLong))
    val corpus = Inputs.salted(ScalingBench.dedupStressCorpus(spark, sf, Repl, ctx.partitions),
      Inputs.tagSalt(ctx.seed))
      .withColumn("doc_id", col("doc_id") + Inputs.docOffset(ctx.seed))
      .withColumn("part", when(bucket < BasePart, 0L).otherwise(bucket - BasePart + 1))
    corpus.write.partitionBy("part").parquet(s"$dir/corpus")
    root = dir
    IncrementalDedup.commitState(spark, part(0), s"$dir/state-base", bands = Bands, rows = Rows)
  }

  /** One pass over the fixed sequence on a fresh state copy: per-operation
    * latencies, and the state directory it leaves.
    */
  private def runSequence(): (Seq[Double], String) = {
    val state = ctx.freshDir("state")
    Dirs.copyTree(s"$root/state-base", state)
    val lat = sequence.map { step =>
      val t0 = System.nanoTime()
      step match {
        case Some(s) => ctx.span("ops.incremental.fold")(IncrementalDedup.commitIncrement(
          spark, state, part(s), f"day-$s%03d", bands = Bands, rows = Rows))
        case None => ctx.span("ops.incremental.compact")(IncrementalDedup.compact(spark, state))
      }
      Workload.seconds(t0)
    }
    (lat, state)
  }

  /** The decision as of the folded state, consumed by the client. */
  private def decision(state: String): (Long, Long) =
    ctx.span("ops.incremental.decision")(Checks.summary(IncrementalDedup.decisionAsOf(spark, state)))

  private var docsFolded = 0L
  private var last = ""

  def prepare(): Unit =
    docsFolded = shards.map(part).foldLeft(part(0))(_ unionByName _).count()

  /** Set-up's commitState already ran the shingle, LSH, verify and CC code;
    * one fold of a pool shard outside the sequence warms the fold path.
    */
  override def warmup(): Seq[Check] = {
    val state = ctx.freshDir("state")
    Dirs.copyTree(s"$root/state-base", state)
    val spare = (1 to PoolShards).find(s => !shards.contains(s)).get
    IncrementalDedup.commitIncrement(spark, state, part(spare), "warmup", bands = Bands, rows = Rows)
    val ok = java.nio.file.Files.exists(java.nio.file.Paths.get(state, "increments", "warmup", "_COMMITTED"))
    Dirs.delete(state)
    Seq(Check("dedup_daily warm-up fold committed", ok, "no _COMMITTED marker"))
  }

  private def keep(state: String): Unit = {
    if (last.nonEmpty) Dirs.delete(last)
    last = state
  }

  def measure(deadlineNs: Long): Measurement = {
    val ops = Seq.newBuilder[Double]
    val (_, runs, failedRuns) = Workload.closedLoop(deadlineNs, 1) { () =>
      val (l, state) = runSequence()
      keep(state)
      ops ++= l
      (l.sum, Seq())
    }
    val lat = ops.result()
    val shardsPerS = (runs - failedRuns) * Folds / lat.sum
    Measurement(lat, shardsPerS, runs * sequence.size, failedRuns * sequence.size, Seq(
      ("fold_p50_s", Stats.median(lat), "s"),
      ("operations", lat.size.toDouble, "count"),
      ("shards_per_min", shardsPerS * 60, "shards/min")))
  }

  /** One sequence, then the decision over the state it leaves. */
  def unit(): (Double, Seq[Check]) = {
    val t0 = System.nanoTime()
    val (_, state) = runSequence()
    val (rows, _) = decision(state)
    val wall = Workload.seconds(t0)
    keep(state)
    (wall, Seq(Checks.eq("dedup_daily docs decided", rows, docsFolded)))
  }

  /** The incremental identity, once per invocation on the last sequence's
    * state: `decisionAsOf` equals `Dedup.dupClusters` from scratch over base
    * and the folded shards, row for row.
    */
  override def finalChecks(): Seq[Check] = {
    val inc = IncrementalDedup.decisionAsOf(spark, last)
    val all = shards.map(part).foldLeft(part(0))(_ unionByName _)
    val scratch = Dedup.dupClusters(all, bands = Bands, rows = Rows)
    val extra = inc.exceptAll(scratch).count()
    val missing = scratch.exceptAll(inc).count()
    val dups = inc.agg(sum(col("is_dup"))).head().getLong(0)
    keep("")
    Seq(Check("dedup_daily decisionAsOf = dupClusters over base and shards",
      extra == 0 && missing == 0,
      s"$extra rows only incremental, $missing only from-scratch ($dups dups)"))
  }
}
