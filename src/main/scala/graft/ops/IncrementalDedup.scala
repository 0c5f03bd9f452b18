package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pin

/** Incremental deduplication: given a COMMITTED deduped corpus and a newly
  * arrived shard, compute the updated dedup DECISION over (base ∪ shard)
  * without ever re-comparing base-vs-base — the job a real 100 TB pipeline
  * runs daily, where from-scratch [[Dedup.dupClusters]] would re-pay the
  * whole corpus's signature + candidate + verify cost for a shard that is a
  * fraction of a percent of it.
  *
  * Committed STATE ([[commitState]], one parquet table per relation — at
  * deployment these are the Iceberg tables the signature store already
  * maintains):
  *   - `reps/`    (rep_id, text, gh, n_shingles) — one row per distinct text
  *   - `members/` (doc_id, rep_id) — exact-group membership
  *   - `buckets/` (rep_id, band, bucket) — the LSH signature index
  *   - `pairs/`   (a, b) — the VERIFIED rep-level near-dup pair graph
  *   - `comps/`   (node, component) — the COMMITTED connected components of
  *     the pair graph (base generation only; increments append pairs, and
  *     readers fold them in via [[graft.kg.canon.ConnectedComponents.incremental]])
  *
  * Both writers derive from the relation [[Dedup.dupClusters]] reads:
  * [[commitState]] pins [[Dedup.decisionBase]] of the corpus and takes
  * members, shingle counts, band buckets ([[Dedup.repBuckets]]) and (by
  * [[Dedup.verifiedRepPairs]] over those buckets, the batch CC input's
  * derivation) the pair graph from it; the fold below pins the same
  * relation of the shard. Candidate admission ([[Dedup.admitted]]) and
  * verify ([[Dedup.verifyArrays]]) are Dedup's own, so the two paths share
  * every rule that decides a pair.
  *
  * Incremental step ([[incrementalClusters]]):
  *   1. derive the shard's per-doc relation alone ([[Dedup.decisionBase]]);
  *      shard groups whose text already exists in base (sha2 content-key
  *      join against the stored `gh`) just JOIN the existing rep — no new
  *      signatures, no new pairs (identical text ⇒ identical everything).
  *   2. genuinely new texts' shingle arrays are signatured ALONE; their
  *      band buckets join the UNION of stored + new buckets, and only pairs
  *      with at least one NEW side survive — old-old candidates never form,
  *      and verify builds base texts' shingle arrays ONLY for the reps that
  *      are candidates with a new doc (semi-join on the candidate ids;
  *      proven behaviorally by OpsSpec's corrupted-state test).
  *   3. the cluster decision folds INCREMENTALLY too: committed component
  *      labels (`comps/`) pass through untouched, and only components
  *      touched by a not-yet-compacted or new pair re-enter the CC
  *      iterations ([[graft.kg.canon.ConnectedComponents.incremental]] —
  *      the iterated subgraph is pair-delta-neighborhood-sized, never the
  *      full rep pair graph, which at 100 TB is corpus-rep-scale). Every
  *      doc's keeper is the minimum doc_id of its cluster — computed from
  *      the member relation, so a shard doc with a smaller id than its
  *      group's committed rep correctly takes over as keeper.
  *
  * Deployment shape notes: (a) the stored `buckets/` table should be
  * table-partitioned/bucketed by (band, bucket) so the shard's candidate
  * probe is a co-located join, not a full shuffle of the signature store;
  * (b) the hot-bucket cap here re-counts bucket membership over stored ∪
  * new (one pass over the bucket index) — a production store maintains
  * per-bucket counts incrementally and turns that into a metadata read.
  *
  * EQUALITY with from-scratch: the registered `dedup_incremental` query
  * shares the from-scratch recursive-CTE oracle of `dedup_clusters` over
  * the full corpus — same pairs, same clusters, same keepers. The one
  * documented divergence: the hot-bucket cap is evaluated over the union
  * bucket membership, so a bucket that was UNDER the cap when base
  * committed but exceeds it after the shard arrives drops its new
  * candidates, while pairs already verified from it stay committed —
  * incremental dedup never un-discovers a pair (the default cap binds on no
  * harness corpus, so the oracle equality is exact here).
  */
object IncrementalDedup {

  /** Hard ceiling on a single fold's DISTINCT shard texts. The fold
    * broadcasts shard-derived key relations (content keys, matched ids,
    * candidate ids) so the committed corpus is never shuffled; an explicit
    * `broadcast()` hint bypasses `autoBroadcastJoinThreshold`, so without
    * this guard a jumbo backfill dies mid-fold on Spark's 8 GB broadcast
    * hard limit (or driver OOM) with no hint at the remediation. 20M keys
    * ≈ 1–2 GB broadcast — comfortably under the limit; a larger backfill
    * should be split into several commit batches (which is how it would be
    * ingested anyway).
    */
  val MaxShardReps: Long = 20000000L

  /** Write the dedup state of `corpus` under `stateDir` (parquet subdirs),
    * derived exactly as [[Dedup.dupClusters]] derives its decision: one
    * pinned [[Dedup.decisionBase]], its pair graph by the same
    * derivation as [[Dedup.baseRepPairs]], and connected components over
    * those pairs — the from-scratch cost, paid ONCE at commit time.
    */
  def commitState(spark: SparkSession, corpus: DataFrame, stateDir: String,
      numer: Int = 1, denom: Int = 2, bands: Int = 32, rows: Int = 1,
      maxBucket: Int = 1000): Unit = {
    // four actions (two writes and the bucket and pair pins) read the
    // per-doc relation: pinned once, as dupClusters pins it
    val base = Pin(Dedup.decisionBase(corpus))
    val arr = Dedup.repArrays(base)
    // gh (the sha2 content key) is STORED: the shard fold's attach join
    // then reads only (rep_id, gh) — no per-fold re-hash of the committed
    // corpus and, more importantly at 100 TB, no scan of the wide `text`
    // column just to recompute a key the commit already derived. The pin
    // carries neither text nor gh: the rep rows join the input by doc_id.
    //
    // Each relation is REPARTITIONED by its fold-side access key before the
    // write. Without it AQE coalesces these writes to one file with one
    // row group, and parquet cannot split a row group — every per-fold
    // probe scan (content-key attach, touched-bucket semi, candidate
    // shingling) then runs on ONE task no matter the cluster size
    // (measured: two single-task 3 s scan stages on the sf0.1 fold's
    // critical path). At deployment this is exactly the bucketed-table
    // layout the class doc prescribes; key-clustering also means a
    // fold's probe touches only matching files' row groups.
    // explicit partition count: an expression-only repartition is still
    // AQE-coalescible on small inputs, which would silently restore the
    // one-row-group layout
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // layout version stamped FIRST (it describes the layout, not commit
    // atomicity — half-written commits fail on missing parquet regardless):
    // readers refuse a mismatched version with an actionable message
    // instead of an opaque missing-column/missing-path error
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stateDir, "_VERSION"), StateVersion.toString)
    arr.join(corpus.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id").as("rep_id"), col("text"),
        Dedup.contentKey(col("text")).as("gh"), size(col("ss")).cast("long").as("n_shingles"))
      .repartition(np, col("rep_id"))
      .write.mode("overwrite").parquet(s"$stateDir/reps")
    base.select(col("doc_id"), col("rep_id")).repartition(np, col("doc_id"))
      .write.mode("overwrite").parquet(s"$stateDir/members")
    // the signatures are computed once: the pinned buckets feed both the
    // buckets/ write and the pair graph's candidate join
    val buckets = Pin(Dedup.repBuckets(arr, bands, rows))
    buckets.withColumnRenamed("doc_id", "rep_id")
      .repartition(np, col("band"), col("bucket"))
      .write.mode("overwrite").parquet(s"$stateDir/buckets")
    val pairs = Pin(
      Dedup.verifiedRepPairs(buckets, arr, numer, denom, bands, rows, maxBucket)
        .select(col("a"), col("b")))
    pairs.repartition(np, col("a"))
      .write.mode("overwrite").parquet(s"$stateDir/pairs")
    // the committed COMPONENT LABELS of the pair graph: paid once here so
    // per-fold decisions touch only label stars the pair delta reaches
    // (ConnectedComponents.incremental), instead of re-clustering the
    // full rep pair graph every fold. Written LAST — materializedState's
    // validity probe keys on it
    graft.kg.canon.ConnectedComponents
      .run(pairs.select(col("a").as("src"), col("b").as("dst")))
      .repartition(np, col("node"))
      .write.mode("overwrite").parquet(s"$stateDir/comps")
  }

  /** The active BASE root: `stateDir/_GENERATION` (written atomically by
    * [[compact]]) names the generation directory holding the folded base;
    * absent, the base is the original [[commitState]] layout at the root.
    * Unreferenced generation directories (a compaction that crashed before
    * its pointer swap) are ignored by construction.
    */
  private def baseRoot(stateDir: String): String = {
    val p = java.nio.file.Paths.get(stateDir, "_GENERATION")
    if (java.nio.file.Files.exists(p))
      s"$stateDir/${java.nio.file.Files.readString(p).trim}"
    else stateDir
  }

  /** Tags already FOLDED into the active generation (recorded inside the
    * generation BEFORE the pointer swap): excluded by every reader even if
    * their increment directories still exist — a compaction that crashed
    * between its atomic swap and its deletes must not double-count — and
    * permanently retired for [[commitIncrement]].
    */
  private def foldedTagsOf(stateDir: String): Set[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val f = Paths.get(baseRoot(stateDir), "_FOLDED")
    if (Files.exists(f))
      Files.readAllLines(f).asScala.map(_.trim).filter(_.nonEmpty).toSet
    else Set.empty
  }

  /** The committed, not-yet-folded increment directories visible right now
    * (optionally bounded by an as-of tag), in tag order. Listed ONCE per
    * read so a caller that both reads and retires increments ([[compact]])
    * acts on exactly one consistent set.
    */
  private def visibleIncrements(stateDir: String, foldedTags: Set[String],
      asOf: Option[String] = None): Seq[java.nio.file.Path] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val incRoot = Paths.get(stateDir, "increments")
    if (!Files.isDirectory(incRoot)) Seq.empty
    else {
      val s = Files.list(incRoot)
      try s.iterator().asScala.toSeq
        .filter(p => Files.exists(p.resolve("_COMMITTED")))
        .filter(p => !foldedTags.contains(p.getFileName.toString))
        // SNAPSHOT bound: only increments whose tag sorts <= asOf are
        // visible (tags are caller-chosen; date-like tags give the
        // natural time-travel ordering)
        .filter(p => asOf.forall(p.getFileName.toString <= _))
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
  }

  /** The four relations of base ∪ exactly `committed` — shared by the
    * listing readers and [[compact]] (which must fold precisely the set it
    * will retire, not an independent re-listing).
    */
  private def relationsOf(spark: SparkSession, base: String,
      committed: Seq[java.nio.file.Path])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    def rel(sub: String): DataFrame =
      committed.foldLeft(spark.read.parquet(s"$base/$sub"))(
        (acc, d) => acc.unionByName(spark.read.parquet(s"$d/$sub")))
    (rel("reps"), rel("members"), rel("buckets"), rel("pairs"))
  }

  /** The pairs of exactly `committed` increments (empty, with the pair
    * schema, when there are none) — the CC delta readers fold into the
    * committed component labels.
    */
  private def incrementPairsOf(spark: SparkSession, base: String,
      committed: Seq[java.nio.file.Path]): DataFrame =
    committed.map(d => spark.read.parquet(s"$d/pairs"))
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.read.parquet(s"$base/pairs").limit(0))

  /** Everything a reader needs: the four union relations, plus the CC
    * split — committed base labels and the not-yet-compacted pair delta.
    */
  private final case class State(reps: DataFrame, members: DataFrame,
      buckets: DataFrame, comps: DataFrame, incPairs: DataFrame)

  /** Refuse a state directory committed under a different layout version
    * with an actionable error (recommit), instead of the opaque
    * missing-path / unresolved-column failure a raw read would hit.
    * A directory with no `_VERSION` marker predates versioning = v1.
    */
  private def checkVersion(stateDir: String): Unit = {
    val p = java.nio.file.Paths.get(stateDir, "_VERSION")
    val found =
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.readString(p).trim.toIntOption.getOrElse(0)
      else 1
    require(found == StateVersion,
      s"dedup state at $stateDir has layout v$found but this build reads " +
        s"v$StateVersion — recommit the base corpus (commitState) into a " +
        "fresh directory; on-disk state is not migrated in place")
  }

  /** The four state relations as of now: the base tables ∪ every COMMITTED
    * increment. An increment is visible ONLY once its `_COMMITTED` marker
    * exists — a crashed half-written `increments/<tag>/` is ignored by every
    * reader, which is what makes [[commitIncrement]] crash-safe. Tag order is
    * irrelevant to the relations (unions), so listing order doesn't matter.
    */
  private def stateRelations(spark: SparkSession, stateDir: String,
      asOf: Option[String] = None): State = {
    checkVersion(stateDir)
    val base = baseRoot(stateDir)
    val committed = visibleIncrements(stateDir, foldedTagsOf(stateDir), asOf)
    val (reps, members, buckets, _) = relationsOf(spark, base, committed)
    State(reps, members, buckets,
      spark.read.parquet(s"$base/comps"),
      incrementPairsOf(spark, base, committed))
  }

  /** COMPACTION — fold every committed increment into one new base
    * generation (the Iceberg rewrite-data-files analog for this state
    * layout): read fan-in goes back to 1 directory per relation after any
    * number of daily commits. Crash-safe by the same marker-last
    * discipline as [[commitIncrement]]: the new `gen-<k>/` is written
    * fully (its own `_COMMITTED` last), then the `_GENERATION` pointer is
    * swapped ATOMICALLY (temp file + `ATOMIC_MOVE`), then the folded
    * increments and the previous generation are deleted. A crash before
    * the swap leaves an unreferenced directory every reader ignores; a
    * crash after the swap leaves garbage increments that the final delete
    * of a RE-RUN removes (re-running compact on a compacted store is a
    * cheap no-op fold of zero increments).
    *
    * History trade, stated plainly: compaction FOLDS — [[decisionAsOf]]
    * tags older than the compaction stop resolving (they now see the
    * folded base, i.e. the state at compaction time). Retention policy =
    * don't compact past tags you still need to time-travel to.
    *
    * SINGLE WRITER: compact() must not run concurrently with another
    * compact() or with [[commitIncrement]] — an increment that lands
    * between the fold's read and the pointer swap would be retired without
    * its data entering the new generation. The crash-safety claims above
    * are about a writer DYING mid-operation, not about concurrent writers;
    * serialize state mutations (one daily driver), exactly as Iceberg
    * serializes commits through its catalog.
    */
  def compact(spark: SparkSession, stateDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.kg.emit.TableIO.deleteTree
    checkVersion(stateDir)
    val oldBase = baseRoot(stateDir)
    val prevFolded = foldedTagsOf(stateDir)
    // list the committed increments ONCE: this exact set is what the new
    // generation folds, what _FOLDED retires, and what gets deleted — a
    // separate re-listing could silently drop a racing commit's data
    val folded = visibleIncrements(stateDir, prevFolded)
    val (reps, members, buckets, pairs) = relationsOf(spark, oldBase, folded)
    // component labels fold INCREMENTALLY: untouched committed labels pass
    // through; only components the folded increments' pairs touch re-enter
    // CC — the compaction analog of the per-fold decision path
    val comps = graft.kg.canon.ConnectedComponents.incremental(
      spark.read.parquet(s"$oldBase/comps"),
      incrementPairsOf(spark, oldBase, folded)
        .select(col("a").as("src"), col("b").as("dst")))
    // next generation = 1 + the highest gen-<k> index present on disk (live
    // pointer target or crashed leftovers) — NEVER a count of gen dirs:
    // after compact #2 deletes gen-1, a count would re-derive "gen-2" and
    // overwrite the LIVE generation it is lazily reading from
    val genIdx = {
      val s = Files.list(Paths.get(stateDir))
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("gen-") =>
          n.stripPrefix("gen-").toIntOption.getOrElse(0) }
        .foldLeft(0)(math.max)
      finally s.close()
    }
    val gen = s"gen-${genIdx + 1}"
    Seq("reps" -> reps, "members" -> members,
      "buckets" -> buckets, "pairs" -> pairs, "comps" -> comps)
      .foreach { case (sub, df) =>
        df.write.mode("overwrite").parquet(s"$stateDir/$gen/$sub")
      }
    // record the retired tags INSIDE the generation before it goes live:
    // readers resolving this generation skip those increments even if a
    // crash leaves their directories behind (no double counting). The list
    // CARRIES FORWARD the previous generation's retired tags — retirement
    // is permanent across compactions, so a delayed retry of a
    // first-compaction tag still hits the commitIncrement no-op guard
    Files.writeString(Paths.get(stateDir, gen, "_FOLDED"),
      (prevFolded ++ folded.map(_.getFileName.toString)).toSeq.sorted
        .mkString("\n"))
    Files.createFile(Paths.get(stateDir, gen, "_COMMITTED"))
    val tmp = Paths.get(stateDir, s"_GENERATION.tmp.$gen")
    Files.writeString(tmp, gen)
    Files.move(tmp, Paths.get(stateDir, "_GENERATION"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    folded.foreach(p => deleteTree(p.toString))
    // crash-after-swap garbage from EARLIER compactions: increment dirs
    // whose tags were already retired are dead weight every reader skips —
    // sweep them here (the re-run-compact cleanup the docstring promises)
    visibleIncrements(stateDir, Set.empty)
      .filter(p => prevFolded.contains(p.getFileName.toString))
      .foreach(p => deleteTree(p.toString))
    if (oldBase != stateDir) deleteTree(oldBase)
    else Seq("reps", "members", "buckets", "pairs", "comps")
      .foreach(sub => deleteTree(s"$stateDir/$sub"))
  }

  /** Fold a shard INTO the committed state: after this, the state covers
    * base ∪ shard and the NEXT shard folds against it — the daily-shard
    * lifecycle where state only ever grows by shard-sized increments and no
    * committed derivation is ever redone. Work is exactly [[foldShard]] (the
    * same increments the decision computes) plus four shard-sized parquet
    * writes; at 100 TB the writes are new-data-sized while the stored corpus
    * is only touched by the content-key attach and the candidate semi-join.
    *
    * CRASH SAFETY + IDEMPOTENCE (the TableIO resume discipline applied to
    * dedup state): the increment is staged under `increments/<shardTag>/`
    * and becomes visible to readers only when its `_COMMITTED` marker lands
    * (written LAST). A crash mid-write leaves an uncommitted directory that
    * every reader ignores and that a retry overwrites wholesale; re-running
    * an already-committed tag is a no-op. OpsSpec proves sequential commits
    * are decision-identical to from-scratch, and that a simulated crashed
    * attempt neither corrupts the fold nor survives the retry.
    */
  def commitIncrement(spark: SparkSession, stateDir: String,
      shard: DataFrame, shardTag: String, numer: Int = 1, denom: Int = 2,
      bands: Int = 32, rows: Int = 1, maxBucket: Int = 1000): Unit = {
    import java.nio.file.{Files, Paths}
    val incDir = Paths.get(stateDir, "increments", shardTag)
    // a tag is PERMANENT once committed — whether it still lives as an
    // increment directory or has been folded into a generation by
    // [[compact]]; re-running either is a no-op (idempotent retry), so a
    // retry racing a compaction can never resurrect or double a shard
    if (!Files.exists(incDir.resolve("_COMMITTED")) &&
        !foldedTagsOf(stateDir).contains(shardTag)) {
      val st = stateRelations(spark, stateDir)
      val f = foldShard(st.reps, st.buckets, shard, numer, denom, bands, rows, maxBucket)
      // each write reads only the fold's pins (and, for the new reps' text,
      // the shard): none re-runs a base-side join, so none is pinned again.
      // overwrite: a half-written previous attempt under this tag is
      // replaced wholesale; nothing is visible until the marker lands
      f.newReps.write.mode("overwrite").parquet(s"$incDir/reps")
      f.members.write.mode("overwrite").parquet(s"$incDir/members")
      f.newBuckets.write.mode("overwrite").parquet(s"$incDir/buckets")
      f.newPairs.write.mode("overwrite").parquet(s"$incDir/pairs")
      Files.createFile(incDir.resolve("_COMMITTED"))
    }
  }

  /** Everything a shard fold derives before (and besides) the decision:
    * the shard-side increments that [[incrementalClusters]] combines with
    * stored state and that [[commitIncrement]] appends TO the state, each
    * in its state layout. `members` covers every shard doc (matched groups
    * attached to their committed rep); the rest cover new texts only.
    */
  private final case class ShardFold(members: DataFrame, newReps: DataFrame,
      newBuckets: DataFrame, newPairs: DataFrame)

  /** Steps 1–2 of the fold (the shard's per-doc relation + content-key
    * attach, signatures and verified pairs for NEW texts only), against
    * already-loaded state relations — shared by the decision and the state
    * update.
    */
  private def foldShard(bReps: DataFrame, bBuckets: DataFrame,
      shard: DataFrame, numer: Int, denom: Int, bands: Int, rows: Int,
      maxBucket: Int): ShardFold = {
    // 1. the shard's per-doc relation, derived and pinned as dupClusters
    // does the corpus's. The pin job also counts the shard's distinct
    // texts (one `ss` per rep row), enforcing the broadcast-sized-shard
    // contract below with the documented remediation instead of an opaque
    // broadcast error.
    val (sBase, obs) = Pin.observed("dedup fold",
      Dedup.decisionBase(shard), count(col("ss")))
    val nShardReps = obs.getLong(0)
    require(nShardReps <= MaxShardReps,
      s"shard has $nShardReps distinct texts (> MaxShardReps=$MaxShardReps)" +
        " — the fold broadcasts shard-derived key relations; split the " +
        "backfill into smaller commit batches")
    val sArr = Dedup.repArrays(sBase)
    // The shard's reps take text and gh from the shard by doc_id (the pin
    // carries neither), then split by whether the text already exists in
    // base: a content-key equi-join against the STORED gh column (the base
    // side reads two narrow columns, never re-hashes, never scans `text`).
    // The shard side is BROADCAST, so the committed corpus is never
    // shuffled by this join. Contract: a fold's shard must be
    // broadcast-sized (distinct-text keys only — ~50 B/key); a jumbo
    // backfill should be split into several folds, as it would be split
    // into commit batches anyway.
    val keyed = sArr.select(col("doc_id"))
      .join(shard.select(col("doc_id"), col("text")), "doc_id")
      .withColumn("gh", Dedup.contentKey(col("text")))
    val matched = Pin(bReps.select(col("rep_id").as("b_rep"), col("gh"))
      .join(broadcast(keyed.select(col("gh"), col("doc_id").as("s_rep"))), "gh")
      .select(col("s_rep"), col("b_rep")))
    // shard members of a matched group become members of the EXISTING rep
    val members = sBase
      .join(broadcast(matched), col("rep_id") === col("s_rep"), "left")
      .select(col("doc_id"), coalesce(col("b_rep"), col("rep_id")).as("rep_id"))
    val newArr = sArr.join(broadcast(matched.select(col("s_rep").as("doc_id"))),
      Seq("doc_id"), "left_anti")

    // 2. signatures + candidates for NEW texts only. The stored bucket
    // index is probed, not shuffled: only buckets TOUCHED by a shard rep
    // can produce a candidate (every candidate needs a new side), so the
    // base side is a broadcast semi-join on the shard's (band, bucket)
    // keys and everything after — the hot-bucket cap's window count and
    // the candidate join — runs over the shard-NEIGHBORHOOD-sized touched
    // set. Cap semantics are unchanged: bucket size is still counted over
    // stored ∪ new membership (within touched buckets; untouched buckets
    // can produce no candidate under any cap).
    // newBuckets is repartitioned to the session's shuffle parallelism
    // before its pin: AQE coalesces the small signature exchange to ONE
    // partition, and a 1-partition checkpoint serializes every CPU-dense
    // consumer stage downstream (measured: a 2.6 s single-task map over
    // the 1-partition bucket pin on the sf0.1 critical path)
    val np = bReps.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val newBuckets = Pin(Dedup.bandBuckets(
        newArr.select(col("doc_id"), explode(col("ss")).as("s")), bands, rows, portable = false)
      .withColumnRenamed("doc_id", "rep_id")
      .repartition(np, col("band"), col("bucket")))
    val touched = bBuckets.withColumn("is_new", lit(false))
      .join(broadcast(newBuckets.select("band", "bucket").distinct()),
        Seq("band", "bucket"), "left_semi")
      .unionByName(newBuckets.withColumn("is_new", lit(true)))
    val capped = Dedup.cappedBuckets(touched, maxBucket)
    // Dedup's admission rule; its collision count is complete although
    // only TOUCHED buckets are joined: every admissible pair has a new-rep
    // side, and each of its co-buckets holds that new rep's key. The
    // explicit np keeps AQE from coalescing the two-long candidate rows to
    // one partition, which would run the whole verify in one task.
    val cands = Dedup.admitted(capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.rep_id") < col("y.rep_id") &&
          (col("x.is_new") || col("y.is_new")))
      .select(col("x.rep_id").as("a"), col("y.rep_id").as("b")), bands, rows)
      .repartition(np, col("a"))
    // verify needs shingle sets for both sides: new reps have them in the
    // pin; base reps get theirs from the stored text ONLY if they are
    // candidates (semi-join) — the base corpus is never re-derived wholesale
    val candIds = cands.select(col("a").as("doc_id"))
      .unionByName(cands.select(col("b").as("doc_id"))).distinct()
    val baseArr = Dedup.shingleArrays(
      bReps.select(col("rep_id").as("doc_id"), col("text"))
        .join(broadcast(candIds), Seq("doc_id"), "left_semi"))
    // pin census (each pin is an eager job on the fold's SEQUENTIAL
    // critical path, so a relation is pinned only where a later action
    // would re-derive it at more than a pin's cost):
    //  - sBase: read by the matched, newBuckets and newPairs pin jobs and
    //    by the decision action (or the members and reps writes);
    //  - matched: read by the member attach and the new-rep anti join in
    //    every later action; pinned, the committed reps are scanned ONCE;
    //  - newBuckets: read by the touched-key broadcast and the candidate
    //    join and by the buckets write; unpinned, the signature agg (k
    //    hashes per shingle) would run per consumer;
    //  - newPairs: read by the incremental CC in two actions (the touched-
    //    component resolution, the untouched-label passthrough) or written.
    // Unpinned: cands (verify and the candIds broadcast sit in the newPairs
    // pin job behind its one repartition exchange); keyed (read by the
    // matched pin job, then its shard-sized join re-runs once for newReps);
    // newArr and members (narrow derivations of pins).
    val newPairs = Pin(Dedup.verifyArrays(cands, newArr.unionByName(baseArr), numer, denom)
      .select(col("a"), col("b")))
    ShardFold(members,
      newArr.join(keyed, "doc_id")
        .select(col("doc_id").as("rep_id"), col("text"), col("gh"),
          size(col("ss")).cast("long").as("n_shingles")),
      newBuckets, newPairs)
  }

  /** The incremental decision over base-state ∪ shard.
    * Output: (doc_id, keep_id, is_dup) for EVERY doc of base ∪ shard —
    * row-for-row what [[Dedup.dupClusters]] computes from scratch on the
    * union (modulo the cap-drift note above).
    */
  def incrementalClusters(spark: SparkSession, stateDir: String,
      shard: DataFrame, numer: Int = 1, denom: Int = 2, bands: Int = 32,
      rows: Int = 1, maxBucket: Int = 1000): DataFrame = {
    val st = stateRelations(spark, stateDir)
    val f = foldShard(st.reps, st.buckets, shard, numer, denom, bands, rows, maxBucket)

    // 3. INCREMENTAL CC: committed labels pass through; only components
    // touched by the pair DELTA (not-yet-compacted increments + this
    // shard's new pairs) re-enter the iterations. Identical decision to
    // from-scratch by the ConnectedComponents.incremental identity —
    // incremental(run(B), S) = run(B ∪ S) — and the keeper is still the
    // min member doc_id of the cluster (NOT the stored rep id — a
    // smaller-id shard doc in a matched group must take over, matching
    // from-scratch).
    val comps = graft.kg.canon.ConnectedComponents
      .incremental(st.comps,
        st.incPairs.unionByName(f.newPairs)
          .select(col("a").as("src"), col("b").as("dst")))
      .select(col("node").as("rep_id"), col("component"))
    decide(st.members.unionByName(f.members),
      st.reps.unionByName(f.newReps).select(col("rep_id"), col("n_shingles")), comps)
  }

  /** The decision tail shared by [[incrementalClusters]] and
    * [[decisionAsOf]]: cluster = CC component (or self), keeper = min
    * member doc_id among clusters with signatures; zero-shingle groups
    * keep themselves (mirrors the pair operators' no-signature behavior
    * and the oracle).
    */
  private def decide(allMembers: DataFrame, repN: DataFrame,
      comps: DataFrame): DataFrame = {
    val withCluster = allMembers
      .join(repN, "rep_id")
      .join(comps, Seq("rep_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("rep_id")))
    val clusterMin = withCluster.where(col("n_shingles") > 0)
      .groupBy(col("cluster")).agg(min(col("doc_id")).as("cluster_keep"))
    withCluster
      .join(clusterMin, Seq("cluster"), "left")
      .select(col("doc_id"),
        when(col("n_shingles") > 0, col("cluster_keep"))
          .otherwise(col("doc_id")).as("keep_id"))
      .select(col("doc_id"), col("keep_id"),
        when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L).as("is_dup"))
  }

  /** SNAPSHOT (time-travel) dedup decision — the state as of a committed
    * increment tag, the Iceberg-snapshot idiom over the staged-increment
    * layout: `asOf = Some(tag)` reads base + every increment whose tag
    * sorts ≤ tag (date-like tags give calendar time travel); `None` reads
    * the current state. What it buys a 100 TB pipeline: REPRODUCIBLE
    * training runs ("the corpus exactly as the decision stood on day T")
    * without retaining full per-day copies — the increments ARE the
    * history, and no corpus-scale work re-runs (CC over the stored
    * rep-level pair graph + the member inheritance join only).
    */
  def decisionAsOf(spark: SparkSession, stateDir: String,
      asOf: Option[String] = None): DataFrame = {
    val st = stateRelations(spark, stateDir, asOf)
    val comps = graft.kg.canon.ConnectedComponents
      .incremental(st.comps,
        st.incPairs.select(col("a").as("src"), col("b").as("dst")))
      .select(col("node").as("rep_id"), col("component"))
    decide(st.members, st.reps.select(col("rep_id"), col("n_shingles")), comps)
  }

  /** Bump when the state layout or mechanics change. */
  val StateVersion: Int = 2

  /** Build-once committed state for a base corpus (per JVM, keyed by `tag` +
    * [[StateVersion]]; a [[graft.Standing]] table checked on `comps/_SUCCESS`,
    * which [[commitState]] writes last — the registered query commits the
    * base ONCE and every run afterwards pays only the incremental cost).
    */
  def materializedState(spark: SparkSession, base: DataFrame, tag: String): String =
    graft.Standing("dedup-state", s"$tag/v$StateVersion",
        dir => graft.Standing.committed(s"$dir/comps")) { dir =>
      commitState(spark, base, dir)
      dir
    }
}
