package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin
import graft.kg.expr.TokenGrams
import graft.kg.expr.SignBands.signBands
import graft.kg.expr.SignBandsAlgo
import graft.kg.expr.VectorExprs.{dotProduct, l2Norm}
import graft.kg.expr.functions.hash60

/** Deduplication operators for a large-scale training-data pipeline: exact
  * (hash key), n-gram Jaccard (DF-capped shingle self-join + exact verify),
  * MinHash+LSH (signature → band buckets → candidate join → exact verify),
  * SimHash (bit-majority signature → pigeonhole multi-index join), and
  * embedding-cosine near-dup (hyperplane-LSH blocked + exact verify).
  *
  * Scale notes (the point of each design):
  *  - exact: one hash-agg, no comparison is ever pairwise.
  *  - EVERY text near-dup operator runs behind an exact-duplicate
  *    PRE-COLLAPSE ([[exactCollapse]]): signatures/shingles/candidate joins
  *    see one representative per distinct text. A web corpus has exact-dup
  *    clusters of 10^5–10^6 docs; without the collapse every member shares
  *    every band bucket and candidate generation goes quadratic in the
  *    cluster size. With it, candidate-join cost depends only on the number
  *    of DISTINCT texts (OpsSpec plants a 1000-copy cluster and asserts
  *    linear growth).
  *  - minhash-lsh: candidate generation is an equi-join on (band, bucket)
  *    over representatives, with a bucket-membership cap ([[minhashLsh]]'s
  *    maxBucket) bounding the hottest surviving key at maxBucket² — the same
  *    recall-only backstop as ngram-jaccard's maxDf.
  *  - ngram-jaccard: candidate pairs come only from shingles with document
  *    frequency (over distinct texts) <= maxDf, so the self-join's per-key
  *    cost is bounded by maxDf².
  *  - simhash: a 20-table pigeonhole multi-index (6 blocks of 10 bits, every
  *    3-block subset is one 30-bit key) keeps hamming<=3 candidate
  *    generation EXACT while giving 2^30 buckets per table — the 4x15-bit
  *    single-index capped out at 2^15 buckets, quadratic noise beyond ~10^7
  *    docs (Manku et al., WWW'07 construction).
  *  - embedding: hyperplane-LSH bands bound the quadratic term; the exact
  *    cosine predicate runs only inside candidate blocks.
  *
  * Pairs vs clusters: the *pair* operators ([[minhashLsh]], [[ngramJaccard]],
  * [[simhashPairs]]) expand representative-level results back to all member
  * pairs — a k-copy cluster therefore has C(k,2) OUTPUT rows because the
  * contract demands every pair; that blow-up is inherent to the contract,
  * not to the join. The 100 TB path is [[dupClusters]], which never
  * materializes within-cluster pairs: connected components run only over the
  * sparse rep-level pair graph and members inherit their rep's component
  * through one join.
  *
  * Caching: no `persist`, no caller contract. Every relation more than one
  * consumer reads is materialized once through [[graft.Pin]] (see there for
  * why a DISK_ONLY local checkpoint): the pair operators pin their shingle
  * or signature relation, and the two-action decision [[dupClusters]] pins
  * its one per-doc relation ([[decisionBase]]), which both
  * [[IncrementalDedup]] writers pin too: the commit for the corpus, the
  * fold for its shard. CacheHygieneSpec asserts
  * the cache manager stays empty after every dedup action, so library
  * callers cannot leak cached plans.
  */
object Dedup {

  /** Deterministic near-dup test corpus derived from `documents` (the driver
    * tables contain no duplicates): A = originals; B = doc_id+1_000_000 with
    * every 10th token rewritten (near-dups, token-Jaccard ≈ 0.5–0.8); C =
    * doc_id+2_000_000 exact copies of every 5th doc. Mirrored 1:1 by the
    * DuckDB oracles.
    */
  def derivedCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val mutated = base.where(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("array_join(transform(split(text, ' '), (t, i) -> " +
          "case when i % 10 = 0 then 'xdup' else t end), ' ')").as("text"))
    val copies = base.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    spreadSmall(base.unionByName(mutated).unionByName(copies), col("doc_id"))
  }

  /** SMALL-INPUT parallelism guard (guide §2.5 "input skew: one huge
    * unsplittable file … repartition immediately after the read", applied
    * to the under-split case): when the source relation is too small for
    * the scan to produce anywhere near session-parallelism many splits
    * (estimate < np × files.maxPartitionBytes — below that, ≥ np splits
    * are impossible), the CPU-dense per-row derivations downstream (window
    * fingerprints, signature hashing, per-token aggregation) run on the
    * scan's 1–3 tasks while the rest of the machine idles. One key-hashed
    * repartition (deterministic — never rand-derived, see guide §2.5)
    * spreads them; above the threshold the scan already parallelizes and
    * NO extra exchange is inserted, so the 100 TB plan is unchanged.
    */
  private[graft] def spreadSmall(df: DataFrame, key: Column): DataFrame = {
    val conf = df.sparkSession.conf
    val np = conf.get("spark.sql.shuffle.partitions", "32").toInt
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(np.toLong) * maxPart)
      df.repartition(np, key)
    else df
  }

  /** Collision-resistant content key for exact-equality grouping: sha2-256.
    * md5 collisions are practically constructible, so an adversarial web
    * corpus could silently merge two distinct texts into one "exact" group
    * (mislabeling a non-duplicate and dropping it from curation); no public
    * sha-256 collision exists. Cost is one hash per DOCUMENT (not per
    * shingle) — noise next to the shingle-level md5 work.
    */
  private[graft] def contentKey(text: Column): Column = sha2(text, 256)

  /** Exact dedup: group by content hash, keep the smallest doc_id. */
  def exact(corpus: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("gh"))
    corpus.select(col("doc_id"), contentKey(col("text")).as("gh"))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("keep_id"),
        when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L).as("is_dup"))
  }

  /** Exact-duplicate pre-collapse shared by every text near-dup operator:
    * one representative (min doc_id) per distinct text. Returns
    * (reps(rep_id, text), members(doc_id, rep_id)). One shuffle of the corpus
    * by content hash feeds both the representative pick and the member map
    * (same exchange, reused). Exact copies have identical shingle sets and
    * identical minhash/simhash signatures, so running any downstream
    * candidate machinery on reps loses nothing — results are expanded back
    * to members afterwards.
    */
  private[graft] def exactCollapse(corpus: DataFrame): (DataFrame, DataFrame) = {
    // explicit partition count (the IncrementalDedup fold discipline): an
    // expression-only repartition is AQE-coalescible, and on a small input
    // AQE folds this exchange to ONE partition — which then serializes every
    // CPU-dense consumer stage downstream of reps (shingle generation, the
    // k-hash signature agg) onto one core. With the explicit session
    // parallelism the plan is unchanged at scale (the exchange would have
    // had np partitions anyway) and the small-input case keeps all cores.
    val np = corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val hashed = corpus
      .select(col("doc_id"), col("text"), contentKey(col("text")).as("gh"))
      .repartition(np, col("gh"))
    val reps = hashed.groupBy(col("gh"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("r"))
      .select(col("gh"), col("r.doc_id").as("rep_id"), col("r.text").as("text"))
    val members = hashed.select(col("doc_id"), col("gh"))
      .join(reps.select(col("gh"), col("rep_id")), "gh")
      .select(col("doc_id"), col("rep_id"))
    (reps.select(col("rep_id"), col("text")), members)
  }

  /** Distinct n-gram token shingles: (doc_id, s), the [[TokenGrams]]
    * kernel's exact-n grams of the text's space-split tokens.
    *
    * Partitioned BY doc_id before the distinct: HashPartitioning(doc_id)
    * satisfies the clustered distributions of the distinct (keys doc_id, s),
    * the per-doc size agg, AND the minhash signature agg (key doc_id) as a
    * key subset — so all downstream consumers hang off this ONE exchange,
    * which ReuseExchange computes once per query (this is what replaced the
    * old persist-and-clearCache contract).
    */
  def shingles(corpus: DataFrame, n: Int = 3): DataFrame = {
    val np = corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    corpus.select(col("doc_id"), explode(TokenGrams.exact(split(col("text"), " "), n)).as("s"))
      // explicit np: same rationale as exactCollapse — AQE would coalesce
      // the small-input exchange to one partition and serialize the
      // signature/verify consumers hanging off this ONE shared exchange
      .repartition(np, col("doc_id"))
      .distinct()
  }

  /** Per-rep shingle counts: (rep_id, n), n >= 1 (zero-shingle reps have no
    * row — the guard that keeps sub-n-token exact copies out of the pair
    * relations, matching the no-signature behavior of the uncollapsed plan).
    */
  private[graft] def repShingleSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .select(col("doc_id").as("rep_id"), col("n"))

  /** Exact verify shared by the candidate-generating dedup plans over a
    * (doc_id, s) shingle relation, which must be DISTINCT per (doc_id, s)
    * ([[shingles]] is): each doc's shingles fold into one array and
    * [[verifyArrays]] intersects them. Output: (a, b, common, union_).
    */
  private[graft] def verifyJaccard(
      cands: DataFrame, sh: DataFrame, numer: Int, denom: Int): DataFrame =
    verifyArrays(cands,
      sh.groupBy(col("doc_id")).agg(collect_list(col("s")).as("ss")), numer, denom)

  /** Intersect full shingle sets only for candidate pairs (a, b), keep
    * pairs with Jaccard >= numer/denom; integer arithmetic only
    * (denom*common >= numer*union). `arr` is (doc_id, ss) with ss each
    * doc's DISTINCT shingles. Output: (a, b, common, union_).
    */
  private[graft] def verifyArrays(
      cands: DataFrame, arr: DataFrame, numer: Int, denom: Int): DataFrame = {
    // ONE row per (pair, side), not per (pair, shingle): a row-per-shingle
    // verify moved ~2·|sh_doc| rows through two joins and an aggregation
    // PER CANDIDATE (75% of minhashLsh/dupClusters wall at sf0.1). Each
    // array is bounded by tokens-per-doc (a per-row payload, the
    // cutPassages precedent). common = |sa ∩ sb| over distinct-element
    // arrays and union_ = |sa| + |sb| − common; intersection cardinality
    // is order-free, so array element order never reaches the output.
    cands
      .join(arr.select(col("doc_id").as("a"), col("ss").as("sa")), "a")
      .join(arr.select(col("doc_id").as("b"), col("ss").as("sb")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("common"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("nanb"))
      .withColumn("union_", col("nanb") - col("common"))
      .where(col("common") * denom >= col("union_") * numer)
      .select(col("a"), col("b"), col("common"), col("union_"))
  }

  /** Expand representative-level Jaccard pairs back to member pairs:
    * cross-group pairs inherit the rep pair's (common, union_); within-group
    * pairs (exact copies) have common = union_ = the rep's shingle count
    * (J = 1; the inner join to repSizes drops zero-shingle groups). The
    * within-group self-join is quadratic in group size BY CONTRACT (every
    * pair must be emitted) — [[dupClusters]] is the linear alternative.
    */
  private def expandJaccardPairs(repPairs: DataFrame, members: DataFrame,
      repSizes: DataFrame, numer: Int, denom: Int): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rep_id").as("a"), col("doc_id").as("da")), "a")
      .join(members.select(col("rep_id").as("b"), col("doc_id").as("db")), "b")
      .select(least(col("da"), col("db")).as("a"), greatest(col("da"), col("db")).as("b"),
        col("common"), col("union_"))
    // within-group J = 1 always passes any numer <= denom threshold, so no
    // predicate here; the INNER join to repSizes is what drops zero-shingle
    // groups (they have no row in repSizes), matching the uncollapsed plan
    val within = members.as("x").join(members.as("y"),
        col("x.rep_id") === col("y.rep_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.rep_id").as("rep_id"), col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .join(repSizes, "rep_id")
      .select(col("a"), col("b"), col("n").as("common"), col("n").as("union_"))
    cross.unionByName(within)
  }

  /** Exact pairwise n-gram Jaccard >= numer/denom over the DF-CAPPED shingle
    * universe of DISTINCT texts: shingles appearing in more than maxDf
    * representatives are dropped — from both sides of the comparison —
    * before the pair join (one window count over the join's own exchange,
    * no extra shuffle). The cap bounds the self-join's hottest key at maxDf²;
    * without it, one corpus-common shingle ("and the of …") makes the join
    * quadratic at web scale. Counting DF over representatives (not raw docs)
    * means a million-copy boilerplate cluster no longer pushes its OWN
    * shingles over the cap — the collapse finds those clusters, the cap only
    * drops cross-text filler. Cost is recall only; hot shingles carry no
    * near-dup signal. The default cap binds on NO harness corpus (max
    * measured shingle DF at sf0.1 is 42), so the query shares the uncapped
    * DuckDB oracle (equality also pinned by OpsSpec).
    * Output: (a, b, common, union_) with a < b.
    */
  def ngramJaccard(corpus: DataFrame, numer: Int = 1, denom: Int = 5,
      maxDf: Int = 1000): DataFrame = {
    val (reps, members) = exactCollapse(corpus)
    // DF computed as a window count over hashpartitioning(s) — the SAME
    // distribution the pair self-join needs, so the exchange is built once
    // and reused (an aggregate+anti-join variant was measured ~45% slower:
    // its groupBy(s) is an extra full shuffle the window avoids)
    val w = Window.partitionBy(col("s"))
    val sh = Pin(
      shingles(reps.select(col("rep_id").as("doc_id"), col("text")))
        .withColumn("df", count(lit(1)).over(w))
        .where(col("df") <= maxDf)
        .drop("df"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
    val repPairs = common
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("union_", col("na") + col("nb") - col("common"))
      .where(col("common") * denom >= col("union_") * numer)
      .select(col("a"), col("b"), col("common"), col("union_"))
    expandJaccardPairs(repPairs, members, repShingleSizes(sh), numer, denom)
  }

  /** Prime modulus of the portable universal-hash family (2^31 - 1). */
  val PortableP: Long = 2147483647L

  /** Deterministic (a_j, b_j) parameters of the portable minhash family
    * h_j(x) = (a_j * x + b_j) mod P — the classic universal-hash permutation
    * approximation. Shared VERBATIM with the DuckDB oracle SQL (OpsEntries
    * embeds these constants), so signatures are reproducible cross-engine.
    * All arithmetic stays below 2^62 (a, x < 2^31), ANSI-overflow-safe in
    * both engines.
    */
  def portableHashParams(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(k)((1L + rnd.nextInt((PortableP - 1).toInt).toLong,
      rnd.nextInt(PortableP.toInt).toLong))
  }

  /** Portable 31-bit shingle base hash (same value computable by DuckDB):
    * first 15 hex digits of md5(s) as an integer, mod P. ONE md5 per shingle;
    * the k permutations are linear transforms of this base (vs k md5s —
    * measured ~2.5x cheaper at k=32).
    */
  private def portableBaseHash(s: Column): Column =
    hash60(s) % PortableP

  /** The uncapped (doc_id, band, bucket) relation behind [[lshCandidates]]
    * — also the signature STATE a committed corpus persists for
    * [[IncrementalDedup]] (new shards band-join against it instead of
    * re-signaturing the committed corpus). The MinHash signatures are
    * bands × rows independent permutations, one hash-agg per doc (no
    * per-doc loops). Default hashing is xxhash64 (fast, Spark-only);
    * `portable = true` switches to the md5-seeded universal-hash family
    * above so a SQL oracle can replicate the exact signatures.
    */
  private[graft] def bandBuckets(sh: DataFrame, bands: Int, rows: Int,
      portable: Boolean): DataFrame = {
    val k = bands * rows
    val sigs = if (portable) {
      val aggs = portableHashParams(k).zipWithIndex.map { case ((a, b), j) =>
        min((lit(a) * col("hb") + lit(b)) % PortableP).as(s"h$j")
      }
      sh.select(col("doc_id"), portableBaseHash(col("s")).as("hb"))
        .groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    } else {
      val aggs = (0 until k).map(j => min(xxhash64(col("s"), lit(j))).as(s"h$j"))
      sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    }
    val bandCols: Seq[Column] = (0 until bands).map { b =>
      val slots = (0 until rows).map(r => col(s"h${rows * b + r}"))
      // portable bucket key = the raw slot values (DuckDB-reproducible);
      // xxhash64 otherwise (cheaper shuffle key)
      val bucket = if (portable) concat_ws(":", slots: _*) else xxhash64(slots: _*).cast("string")
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Hot-bucket cap over a (doc_id, band, bucket) relation: drop buckets
    * with more than maxBucket members (window count over the join's own
    * (band, bucket) exchange — no extra shuffle).
    */
  private[graft] def cappedBuckets(buckets: DataFrame, maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(col("band"), col("bucket"))
    buckets
      .withColumn("bsz", count(lit(1)).over(w))
      .where(col("bsz") <= maxBucket)
      .drop("bsz")
  }

  /** LSH candidate pairs over a (representative) shingle relation: minhash
    * signatures → (band, bucket) explode → HOT-BUCKET CAP → self-equi-join.
    * The cap (a window count over the join's own (band, bucket) exchange —
    * no extra shuffle — dropping buckets with more than maxBucket members)
    * bounds the join's hottest key at maxBucket² candidate rows; buckets
    * that large carry a vanishing marginal-recall signal (their
    * members are already pairwise-candidates through other bands with
    * overwhelming probability). Package-private so OpsSpec can assert
    * linear candidate growth directly. Pairs pass [[admitted]].
    * Output: (a, b), a < b.
    */
  private[graft] def lshCandidates(sh: DataFrame, bands: Int, rows: Int,
      portable: Boolean, maxBucket: Int): DataFrame =
    bucketCandidates(bandBuckets(sh, bands, rows, portable), bands, rows, maxBucket)

  /** The candidate half of [[lshCandidates]] over a given (doc_id, band,
    * bucket) relation: cap, band self-join, [[admitted]]. Output: (a, b).
    */
  private[graft] def bucketCandidates(bandBuckets: DataFrame, bands: Int, rows: Int,
      maxBucket: Int): DataFrame = {
    val buckets = cappedBuckets(bandBuckets, maxBucket)
    admitted(buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")), bands, rows)
  }

  /** Candidate ADMISSION: one (a, b) row per pair of a band self-join's
    * collision rows `pairs` that collide in at least [[minBandCollisions]]
    * bands. The one rule of the from-scratch candidate join above and of
    * [[IncrementalDedup]]'s fold: a pair admitted by one and not the other
    * would break the from-scratch ≡ incremental identity.
    */
  private[graft] def admitted(pairs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val k = minBandCollisions(bands, rows)
    if (k >= 2)
      pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("nb"))
        .where(col("nb") >= k)
        .select(col("a"), col("b"))
    else pairs.distinct()
  }

  /** The collision count [[admitted]] requires of a candidate.
    *
    * rows == 1 is the OR-of-k-singles geometry: "any ONE of k min-hashes
    * agrees" admits a candidate, and a single agreeing min-hash between
    * UNRELATED texts is common (any shared shingle can become both
    * minima) — measured at sf0.1: 596k candidate pairs of which 84%
    * collide in exactly one band and verify discards all of them (the
    * true J ≥ 1/2 pairs collide in ≥ 8). Requiring TWO agreeing hashes
    * keeps the geometry recall-exact in the same sense as before — miss
    * probability (1−J)^k + k·J·(1−J)^(k−1) ≤ 7.7e-9 at J = 1/2, k = 32,
    * decreasing in J and in k — while cutting candidate noise ~6× before
    * the verify join (the operator's dominant cost). GUARDED at k ≥ 32:
    * for small k the same formula is nowhere near exact (k = 4 at J = 1/2
    * misses 31% of true pairs), and k = 1 would return zero candidates —
    * any other geometry keeps the proven ≥ 1 rule. Banded geometries
    * (rows ≥ 2) always keep ≥ 1: their AND-composition already
    * suppresses noise, and the portable 16x2 oracle replicates exactly
    * that ≥ 1 mechanics in SQL. Capped-regime caveat: collisions are
    * counted over CAP-SURVIVING buckets, so where maxBucket binds (it
    * binds on no harness bucket) a true pair needs two surviving bands
    * where the old rule needed one — size k and maxBucket together when
    * tuning for a boilerplate-heavy corpus.
    */
  private def minBandCollisions(bands: Int, rows: Int): Int =
    if (rows == 1 && bands >= 32) 2 else 1

  /** MinHash+LSH near-dup pairs, exact-verified at token-3-gram Jaccard >=
    * numer/denom. Runs entirely on exact-collapsed representatives
    * ([[exactCollapse]]) with a hot-bucket cap ([[lshCandidates]]), then
    * expands back to member pairs.
    *
    * Band geometry: precision is always exact (verify step), so the only
    * tunable is recall-vs-candidate-noise. Default (bands=32, rows=1) with
    * the ≥2-agreeing-hashes candidate rule ([[minBandCollisions]]) makes a
    * J>=0.5 pair's miss probability (1-J)^32 + 32·J·(1-J)^31 <= 7.7e-9 —
    * effectively exact, which is what lets that query share the
    * brute-force DuckDB oracle. The
    * production geometry at web scale is (16, 2): P(candidate | J) =
    * 1-(1-J²)^16, i.e. ~1% miss at J=0.5 but ~26x less candidate noise from
    * low-J pairs — registered as `dedup_minhash_lsh_16x2` with
    * `portable=true`, whose DuckDB oracle replicates the full LSH mechanics
    * (signatures, banding, verify) rather than brute force; collapse and cap
    * preserve that hash equality because exact copies have identical
    * signatures and the default cap binds on no harness bucket.
    * Output: (a, b, common, union_), a < b.
    */
  def minhashLsh(corpus: DataFrame, numer: Int = 1, denom: Int = 2,
      bands: Int = 32, rows: Int = 1, portable: Boolean = false,
      maxBucket: Int = 1000): DataFrame = {
    val (reps, members) = exactCollapse(corpus)
    val sh = Pin(shingles(reps.select(col("rep_id").as("doc_id"), col("text"))))
    val repPairs =
      verifyJaccard(lshCandidates(sh, bands, rows, portable, maxBucket), sh, numer, denom)
    expandJaccardPairs(repPairs, members, repShingleSizes(sh), numer, denom)
  }

  /** 60-bit SimHash per doc: bit j of a token's hash is bit (j%4) of hex
    * digit j/4 of md5(token) — portable arithmetic, so DuckDB computes the
    * IDENTICAL signature and dedup_simhash gets an exact SQL oracle
    * (xxhash64 would be ~2x cheaper but is not reproducible outside Spark).
    * Signature bit i is the majority of bit i over the token hash multiset:
    * one explode + one 60-column hash-agg (sums of a per-token ±1), no UDAF.
    */
  def simhashSignatures(corpus: DataFrame): DataFrame = {
    // ONE conv packs the 15 hex digits into a 60-bit integer; hex digit k
    // (0-based) sits at bits [4*(14-k), 4*(14-k)+3], so signature bit j
    // (= bit j%4 of digit j/4) is one shift+mask — no per-digit columns
    val tok = corpus.select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"),
        hash60(col("t")).as("hb"))
    val bitSums = (0 until 60).map { j =>
      sum(shiftright(col("hb"), 4 * (14 - j / 4) + j % 4).bitwiseAND(1L) * 2 - 1).as(s"b$j")
    }
    val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 60).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce(_ bitwiseOR _) // OR, not +: keeps the packing overflow-proof
    agg.select(col("doc_id"), sig.as("sig"))
  }

  /** The SimHash multi-index: 60-bit signatures split into 6 blocks of 10
    * bits; every C(6,3) = 20 block-triple is one 30-bit band key. EXACT for
    * hamming <= maxHamming = 3 by pigeonhole (3 dirty bits touch <= 3
    * blocks, so some clean triple collides) with 2^30 buckets per table —
    * random-collision candidate noise ~ n²·20/2^30, vs the old 4x15-bit
    * single-index's n²·4/2^15 (which went quadratic past ~10^7 docs). The
    * Manku et al. (WWW'07) permuted-table construction, expressed as one
    * explode + equi-join. Runs on exact-collapsed representatives; expanded
    * back to member pairs (within-group hamming = 0 by definition).
    * Output: (a, b, hamming).
    */
  def simhashPairs(corpus: DataFrame, maxHamming: Int = 3): DataFrame = {
    val (reps, members) = exactCollapse(corpus)
    // one row per distinct text (small); both sides of the band self-join
    // re-derive it otherwise
    val sigs = Pin(
      simhashSignatures(reps.select(col("rep_id").as("doc_id"), col("text"))))
    val subsets = (0 until 6).combinations(3).toSeq
    val bandCols = subsets.zipWithIndex.map { case (blks, bi) =>
      val key = blks.zipWithIndex.map { case (blk, j) =>
        shiftleft(shiftrightunsigned(col("sig"), 10 * blk).bitwiseAND(0x3FFL), 10 * j)
      }.reduce(_ bitwiseOR _)
      struct(lit(bi).as("band"), key.as("key"))
    }
    val bands = sigs.select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.key").as("key"))
    val repPairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
    val cross = repPairs
      .join(members.select(col("rep_id").as("a"), col("doc_id").as("da")), "a")
      .join(members.select(col("rep_id").as("b"), col("doc_id").as("db")), "b")
      .select(least(col("da"), col("db")).as("a"), greatest(col("da"), col("db")).as("b"),
        col("hamming"))
    // every doc has a signature (an empty text still yields one token), so
    // within-group expansion is unconditional — exact copies are hamming 0
    val within = members.as("x").join(members.as("y"),
        col("x.rep_id") === col("y.rep_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  /** Deterministic near-dup embedding corpus: originals plus vec_id+1_000_000
    * with the first component scaled 1.01x for every 3rd vector
    * (cosine ≈ 0.9999 to its source). Mirrored by the DuckDB oracle.
    */
  def derivedEmbeddings(embeddings: DataFrame): DataFrame = {
    val base = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val mutated = base.where(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(emb, (x, i) -> case when i = 0 then x * 1.01 else x end)").as("emb"))
    base.unionByName(mutated)
  }

  /** Embedding-cosine near-dup pairs (cosine >= threshold), blocked:
    * candidate pairs come from random-hyperplane LSH band collisions
    * ([[graft.kg.expr.SignBands]]) and only candidates pay the exact cosine
    * predicate — an equi-join-shaped plan (never an all-pairs nested loop;
    * PlanShapeSpec asserts it). Default geometry 24 bands × 12 bits: miss
    * probability <= 4e-4 at exactly cos = 0.95 (θ/π ≈ 0.101 →
    * (1 - 0.899^12)^24), < 1e-12 at cos >= 0.99 — near-dup pairs in practice
    * sit far above the threshold, so the plan shares the brute-force DuckDB
    * oracle (equality also pinned by OpsSpec against [[embeddingNearDupsBrute]]);
    * a ~0-cos random pair becomes a candidate with p ≈ 0.6%.
    * Output: (a, b), a < b.
    */
  def embeddingNearDups(derived: DataFrame, threshold: Double = 0.95,
      bands: Int = 24, rows: Int = 12, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = SignBandsAlgo.planes(bands, rows, dim, seed)
    val keyed = derived.select(col("vec_id"),
      posexplode(signBands(col("emb"), planes, bands, rows)).as(Seq("band", "key")))
    val cands = keyed.as("x").join(keyed.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val withNorm = derived.select(col("vec_id"), col("emb"), l2Norm(col("emb")).as("norm"))
    cands
      .join(withNorm.select(col("vec_id").as("a"), col("emb").as("ea"), col("norm").as("na")), "a")
      .join(withNorm.select(col("vec_id").as("b"), col("emb").as("eb"), col("norm").as("nb")), "b")
      .where(dotProduct(col("ea"), col("eb")) >= lit(threshold) * col("na") * col("nb"))
      .select(col("a"), col("b"))
  }

  /** The embedding-dedup DECISION: the same cluster-and-pick-keeper shape as
    * [[dupClusters]] on the text side, over the [[embeddingNearDups]] pair
    * graph — connected components (large-star/small-star, pair-graph-sized
    * input only), keeper = min vec_id per cluster, vectors in no pair keep
    * themselves. Semantic near-dups are transitive in practice (prompt
    * paraphrase families), so the decision must be cluster-level, not
    * pair-level — dropping one side of each pair independently over-deletes
    * chains. Output: (vec_id, keep_id, is_dup) for every vector.
    */
  def embeddingClusters(derived: DataFrame, threshold: Double = 0.95,
      bands: Int = 24, rows: Int = 12, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val pairs = embeddingNearDups(derived, threshold, bands, rows, dim, seed)
    val comps = graft.kg.canon.ConnectedComponents.run(
        pairs.select(col("a").as("src"), col("b").as("dst")))
      .select(col("node").as("vec_id"), col("component"))
    derived.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("keep_id"))
      .select(col("vec_id"), col("keep_id"),
        when(col("vec_id") =!= col("keep_id"), 1L).otherwise(0L).as("is_dup"))
  }

  /** The DISTINCT 3-gram shingles of the token array `ts`, as one array:
    * empty for fewer than 3 tokens, null only for a null `ts`.
    */
  private def shingleSet(ts: Column): Column = array_distinct(TokenGrams.exact(ts, 3))

  /** (doc_id, ss): the [[shingleSet]] of each (doc_id, text) row. Its one
    * caller passes committed representatives, whose text is non-null
    * ([[decisionBase]] drops null text), so `ss` is never null.
    */
  private[graft] def shingleArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleSet(split(col("text"), " ")).as("ss"))

  /** The one per-doc relation every dedup decision derives from — the batch
    * [[dupClusters]] and both [[IncrementalDedup]] writers. The corpus is
    * exchanged ONCE by its content key, one row per doc as
    * (doc_id, rep_id, has_sh, ss):
    *  - rep_id = the exact group's min doc_id, a window min over that
    *    exchange (as in [[exact]]);
    *  - ss = the representative's [[shingleSet]] (no explode, shuffle,
    *    distinct), null on member rows;
    *  - has_sh = the doc has >= 3 tokens, i.e. its group has shingles (a
    *    member's text equals its rep's, so the zero-shingle guard needs no
    *    join to shingle sizes).
    * Null-text docs are dropped: they have no content key, exactly as
    * [[exactCollapse]]'s inner member join drops them. Every caller pins
    * it ([[graft.Pin]]). It carries no text and no content key: the daily
    * writers that store them join their own input by doc_id.
    */
  private[graft] def decisionBase(corpus: DataFrame): DataFrame = {
    val np = corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    corpus
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text"), contentKey(col("text")).as("gh"))
      // explicit np: same rationale as exactCollapse
      .repartition(np, col("gh"))
      .select(col("doc_id"), split(col("text"), " ").as("ts"),
        min(col("doc_id")).over(Window.partitionBy(col("gh"))).as("rep_id"))
      .select(col("doc_id"), col("rep_id"), (size(col("ts")) >= 3).as("has_sh"),
        when(col("doc_id") === col("rep_id"), shingleSet(col("ts"))).as("ss"))
  }

  /** (doc_id, ss) of a [[decisionBase]]'s representative rows. */
  private[graft] def repArrays(base: DataFrame): DataFrame =
    base.where(col("ss").isNotNull).select(col("rep_id").as("doc_id"), col("ss"))

  /** The (doc_id, band, bucket) relation of a [[repArrays]] relation: its
    * minhash signatures over the exploded arrays, banded.
    */
  private[graft] def repBuckets(arr: DataFrame, bands: Int, rows: Int): DataFrame =
    bandBuckets(arr.select(col("doc_id"), explode(col("ss")).as("s")), bands, rows,
      portable = false)

  /** Verified rep-level LSH pairs over a pinned [[decisionBase]] — the CC
    * input of [[dupClusters]]: [[repBuckets]], then [[verifiedRepPairs]].
    * Output: (a, b, common, union_).
    */
  private[graft] def baseRepPairs(base: DataFrame, numer: Int, denom: Int,
      bands: Int, rows: Int, maxBucket: Int): DataFrame = {
    val arr = repArrays(base)
    verifiedRepPairs(repBuckets(arr, bands, rows), arr, numer, denom, bands, rows, maxBucket)
  }

  /** Capped candidates from the given [[repBuckets]] of `arr`
    * ([[bucketCandidates]]), verified over the arrays themselves — so
    * [[IncrementalDedup.commitState]], which also writes the buckets, signs
    * the corpus once. Output: (a, b, common, union_).
    */
  private[graft] def verifiedRepPairs(buckets: DataFrame, arr: DataFrame, numer: Int,
      denom: Int, bands: Int, rows: Int, maxBucket: Int): DataFrame =
    verifyArrays(bucketCandidates(buckets, bands, rows, maxBucket), arr, numer, denom)

  /** Representative-level LSH pairs (the CC input of [[dupClusters]], by
    * the same derivation): pinned collapse → capped candidates → exact
    * verify, WITHOUT the member expansion. Its size depends only on the
    * number of near-dup DISTINCT-text pairs — never on duplicate-cluster
    * sizes (OpsSpec pins that a 1000-copy cluster leaves it unchanged).
    * Output: (a, b) rep ids.
    */
  private[graft] def lshRepPairs(corpus: DataFrame, numer: Int = 1, denom: Int = 2,
      bands: Int = 32, rows: Int = 1, maxBucket: Int = 1000): DataFrame =
    baseRepPairs(Pin(decisionBase(corpus)), numer, denom, bands, rows, maxBucket)
      .select(col("a"), col("b"))

  /** The dedup DECISION: near-dup pairs are only half the operator — a
    * training-data pipeline must pick one survivor per duplicate CLUSTER
    * (pairs are not transitive-closed: A~B, B~C often without A~C).
    *
    * Structure: connected components run ONLY over the representative-level
    * near-dup pair graph (sparse — one node per distinct text that has a
    * fuzzy neighbor; the same iterative large-star/small-star engine as
    * surface canonicalization, R13, over raw LongType ids). Exact-duplicate
    * members never enter CC at all: member → representative is a KNOWN
    * function from the collapse, so each member inherits its rep's component
    * through one join — at 10^12 docs the iterative engine touches only the
    * pair graph of unique texts, not a corpus-sized star forest, and no
    * within-cluster pair blow-up ever materializes. keep_id = the cluster's
    * minimum doc_id (rep = min of its exact group; component = min rep);
    * docs in no pair keep themselves, and members of sub-n-token (zero-
    * shingle) exact groups keep themselves, mirroring the pair operators'
    * no-signature behavior. Docs with null text get NO decision row (they
    * have no content key — the [[exactCollapse]] behavior the incremental
    * path shares). Output: (doc_id, keep_id, is_dup).
    *
    * The corpus is scanned, hashed and shingled ONCE, into [[decisionBase]],
    * pinned at every input size because two actions read it: the CC
    * materialization and the caller's decision action (that relation ⋈
    * components, no corpus re-scan — PlanShapeSpec pins it).
    */
  def dupClusters(corpus: DataFrame, numer: Int = 1, denom: Int = 2,
      bands: Int = 32, rows: Int = 1, maxBucket: Int = 1000): DataFrame = {
    val base = Pin(decisionBase(corpus))
    val comps = graft.kg.canon.ConnectedComponents
      .run(baseRepPairs(base, numer, denom, bands, rows, maxBucket)
        .select(col("a").as("src"), col("b").as("dst")))
      .select(col("node").as("rep_id"), col("component"))
    base.select(col("doc_id"), col("rep_id"), col("has_sh"))
      .join(comps, Seq("rep_id"), "left")
      .select(col("doc_id"),
        when(col("has_sh"), coalesce(col("component"), col("rep_id")))
          .otherwise(col("doc_id")).as("keep_id")) // zero-shingle group: keep self
      .select(col("doc_id"), col("keep_id"),
        when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L).as("is_dup"))
  }

  /** Brute-force all-pairs variant — O(n²), the verify kernel and spec oracle
    * for [[embeddingNearDups]]; never the registered query.
    */
  def embeddingNearDupsBrute(derived: DataFrame, threshold: Double = 0.95): DataFrame = {
    val withNorm = derived.withColumn("norm", l2Norm(col("emb")))
    val dot = dotProduct(col("x.emb"), col("y.emb"))
    withNorm.as("x").join(withNorm.as("y"), col("x.vec_id") < col("y.vec_id"))
      .where(dot >= lit(threshold) * col("x.norm") * col("y.norm"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
  }

  /** EXACT-SUBSTRING duplicate-passage detection — the span-level dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): document-level near-dup ops miss the web's pervasive PARTIAL
    * duplication (boilerplate headers, quoted passages, syndicated
    * paragraphs), so production pipelines also locate every token span that
    * occurs verbatim in more than one document. Their suffix-array
    * construction is single-machine; the distributed restatement is
    * fixed-width window fingerprints (every w-token window, w = the minimum
    * duplicated-span length worth cutting), which finds exactly the spans a
    * suffix array would report at granularity w.
    *
    * Plan (all hash-partitioned, nothing pairwise):
    *   1. one corpus scan → every w-token window as a 60-bit
    *      [[portable 60-bit md5 fingerprint]] (conv(substr(md5,1,15),16,10)
    *      — the same construction as [[Sampling.bucket]], replicated exactly
    *      by DuckDB): the shuffle carries 8-byte keys, not w-token strings
    *      (~w× the corpus — the difference between shuffling ~100 TB·w and
    *      ~2 TB of hashes at web scale);
    *   2. cross-document frequency per fingerprint = one partial-aggregatable
    *      hash-agg; duplicated = seen in ≥ 2 distinct docs. A boilerplate
    *      window shared by 10^8 docs is ONE grouping key — hot keys cost a
    *      skewed agg bucket, never a join blow-up;
    *   3. left-semi join windows against the duplicated fingerprints (equi,
    *      8-byte key);
    *   4. per-doc merge of surviving window starts into MAXIMAL spans —
    *      gaps-and-islands over a (doc_id)-partitioned window (bounded by
    *      tokens-per-doc, never corpus-sized): island breaks where a start
    *      exceeds every prior end + 1; one hash-agg emits (min start,
    *      max end) per island.
    *
    * 60-bit collisions: ~n²/2^61 expected false window matches (≈ 10⁻⁷ at
    * 10⁶ windows); the oracle computes the IDENTICAL fingerprint, so the
    * compare is exact regardless. Production at 10^12 windows widens the key
    * to the full md5 — same plan, 2× shuffle width.
    *
    * Output: (doc_id, span_start, span_end, n_windows) — 1-based inclusive
    * token positions of every maximal cross-document-duplicated span, plus
    * how many duplicated windows merged into it.
    */
  def duplicatePassages(corpus: DataFrame, w: Int = 8): DataFrame = {
    val wins = passageWindows(corpus, w)
    val dupKeys = wins.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select(col("h"))
    val hits = wins.join(dupKeys, Seq("h"), "left_semi")
      .select(col("doc_id"), col("start"), (col("start") + (w - 1)).as("end"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    hits
      .withColumn("pmax", max(col("end")).over(wPrev))
      .withColumn("isl",
        sum(when(col("pmax").isNull || col("start") > col("pmax") + 1, 1L)
          .otherwise(0L)).over(wOrd))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("start")).as("span_start"), max(col("end")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Step 1 of [[duplicatePassages]]: (doc_id, start, h), one row per
    * w-token window of each text — its 1-based start token and the 60-bit
    * md5 fingerprint of the window's tokens joined by single spaces.
    */
  private[graft] def passageWindows(corpus: DataFrame, w: Int): DataFrame =
    corpus
      .select(col("doc_id"),
        posexplode(TokenGrams.exact(split(col("text"), " "), w)).as(Seq("pos", "g")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("start"),
        hash60(col("g")).as("h"))

  /** The CUT that [[duplicatePassages]] exists for — Lee et al.'s actual
    * transformation: every doc re-emitted with its cross-document-duplicated
    * spans REMOVED (exact copies collapse to empty, boilerplate passages
    * vanish everywhere, unique text survives verbatim). One hash-agg folds
    * the spans to a per-doc array (spans-per-doc is bounded by
    * tokens-per-doc/w — a per-row payload, never a skew risk), a left join
    * hands each doc its spans, and the cut itself is a per-row
    * filter-by-position over the token array (codegen'd HOFs, no shuffle
    * beyond the span agg + join). Docs with no duplicated span pass through
    * unchanged via the empty-array coalesce.
    * Output: (doc_id, n_tokens_kept, clean_text).
    */
  def cutPassages(corpus: DataFrame, w: Int = 8): DataFrame = {
    val spans = duplicatePassages(corpus, w)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("spans"))
    corpus.select(col("doc_id"), col("text"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        expr("cast(array() as array<struct<s:bigint,e:bigint>>)")))
      // explicit-name SQL lambdas (nested Column-API lambdas mis-bind)
      .withColumn("kept", expr(
        """filter(transform(split(text, ' '),
          |         (t, i) -> named_struct('t', t, 'p', cast(i + 1 as bigint))),
          |       x -> NOT exists(spans, sp -> x.p >= sp.s AND x.p <= sp.e))""".stripMargin))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_tokens_kept"),
        expr("array_join(transform(kept, x -> x.t), ' ')").as("clean_text"))
  }
}
