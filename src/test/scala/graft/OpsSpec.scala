package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Correctness of the non-SQL-expressible training-data ops (rows-only in the
  * driver's oracle check): LSH vs brute force, banded SimHash exactness, IVF
  * recall.
  */
class OpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val corpus =
    Dedup.derivedCorpus(spark.read.parquet(s"$sf/documents.parquet")).cache()

  /** The sf0.001 derived corpus plus the rows that break naive dedup: null
    * and empty texts, 1- and 2-token copies, double spaces (empty tokens),
    * repeated tokens (J = 1 only over DISTINCT shingles) and a 1000-copy
    * cluster of doc 0's text.
    */
  private lazy val adversarialCorpus: DataFrame = {
    val s = spark
    import s.implicits._
    val adversarial = Seq[(Long, String)](
      (3000001L, null), (3000002L, null),            // no content key
      (3000003L, ""), (3000004L, ""),
      (3000005L, "solo"), (3000006L, "solo"),        // 1- and 2-token copies
      (3000007L, "two words"), (3000008L, "two words"),
      (3000009L, "a  b c"), (3000010L, "a  b c"),    // double spaces: empty tokens
      (3000011L, "a b  c"),
      (3000012L, "x y x y x y x y"),                 // repeated shingles within a doc;
      (3000013L, "x y x y x y x y x")                // J = 1 only over DISTINCT shingles
    ).toDF("doc_id", "text")
    val copyText = corpus.where(col("doc_id") === 0L).head().getString(1)
    val cluster = spark.range(1000)
      .select((col("id") + 4000000L).as("doc_id"), lit(copyText).as("text"))
    corpus.unionByName(adversarial).unionByName(cluster)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH (32x1 bands) finds exactly the brute-force J>=0.5 pairs") {
    val brute = pairs(Dedup.ngramJaccard(corpus, 1, 2))
    val lsh = pairs(Dedup.minhashLsh(corpus, 1, 2))
    // precision is exact by construction (verify step); with 32x1 bands the
    // per-pair miss probability at J>=0.5 is <= (0.5)^32, so set equality is
    // the expected outcome on any input
    assert(lsh == brute, s"missing=${(brute -- lsh).take(5)} spurious=${(lsh -- brute).take(5)}")
    assert(brute.nonEmpty, "test corpus must contain planted near-dups")
    // the scale-tuned geometry (16x2) must still catch every strong near-dup
    // (planted exact copies, J = 1)
    val lsh16 = pairs(Dedup.minhashLsh(corpus, 1, 2, bands = 16, rows = 2))
    val copies = corpus.where(col("doc_id") >= 2000000L)
      .select((col("doc_id") - 2000000L).as("a"), col("doc_id").as("b"))
    assert(pairs(copies).subsetOf(lsh16))
  }

  test("capped-shingle jaccard: short docs don't crash, cap only costs recall") {
    val s = spark
    import s.implicits._
    // docs with 0/1/2 tokens exercise the sequence guard (a 2-token doc used
    // to throw INVALID_PARAMETER_VALUE.START through the descending sequence)
    val shorties = Seq((1L, ""), (2L, "one"), (3L, "two words"),
      (4L, "three token doc"), (5L, "three token doc")).toDF("doc_id", "text")
    assert(Dedup.shingles(shorties).count() == 2) // only the two 3-token docs
    assert(pairs(Dedup.ngramJaccard(shorties, 1, 2)) == Set((4L, 5L)))
    // a binding DF cap only shrinks the result (shared shingles of planted
    // copies all have df >= 2, so maxDf = 1 erases every pair's overlap)
    val uncapped = Dedup.ngramJaccard(corpus, 1, 2, maxDf = Int.MaxValue)
    assert(pairs(Dedup.ngramJaccard(corpus, 1, 2, maxDf = 1)).subsetOf(pairs(uncapped)))
    // non-binding cap (harness default) == uncapped exactly, incl. counts
    def full(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(full(Dedup.ngramJaccard(corpus, 1, 2)) == full(uncapped))
  }

  test("portable 16x2 LSH: high recall on strong near-dups, exact precision") {
    val brute = pairs(Dedup.ngramJaccard(corpus, 1, 2))
    val lsh = pairs(Dedup.minhashLsh(corpus, 1, 2, bands = 16, rows = 2, portable = true))
    assert(lsh.subsetOf(brute), "verify step must make precision exact")
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.95, s"16x2 recall on J>=0.5 pairs = $recall")
    // planted exact copies (J = 1) must never be missed
    val copies = corpus.where(col("doc_id") >= 2000000L)
      .select((col("doc_id") - 2000000L).as("a"), col("doc_id").as("b"))
    assert(pairs(copies).subsetOf(lsh))
  }

  test("banded simhash candidate join is exact for hamming <= 3") {
    val sigs = Dedup.simhashSignatures(corpus).cache()
    val bruteForce = sigs.as("x").join(sigs.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("h"))
      .where(col("h") <= 3)
      .select("a", "b")
    val banded = Dedup.simhashPairs(corpus).select("a", "b")
    assert(pairs(banded) == pairs(bruteForce))
    // 60-bit signatures: every bit must be below bit 60
    assert(sigs.where(col("sig") < 0 || col("sig") >= (1L << 60)).isEmpty)
    // exact copies (doc_id+2_000_000) are hamming 0 and must all be found
    val copies = corpus.where(col("doc_id") >= 2000000L)
      .select((col("doc_id") - 2000000L).as("a"), col("doc_id").as("b"))
    assert(pairs(copies).subsetOf(pairs(banded)))
    sigs.unpersist()
  }

  test("blocked embedding near-dups == brute force == the planted pairs") {
    val derived = Dedup.derivedEmbeddings(spark.read.parquet(s"$sf/embeddings.parquet"))
    val got = pairs(Dedup.embeddingNearDups(derived))
    assert(got == pairs(Dedup.embeddingNearDupsBrute(derived)),
      "hyperplane-LSH blocking must not lose pairs on this corpus")
    val planted = derived.where(col("vec_id") >= 1000000L)
      .select((col("vec_id") - 1000000L).as("a"), col("vec_id").as("b"))
    assert(pairs(planted) == got)
  }

  test("k-means IVF append: evolved index == from-scratch assignment to frozen centroids") {
    import java.nio.file.Files
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    // seeds (vec_id < 16) must stay in base — KMeans.train inits from them
    val batch = e.where(col("vec_id") % 5 === 0 && col("vec_id") >= 16)
    val base = e.exceptAll(batch)
    val cents = graft.ops.KMeans.train(base) // frozen: trained on base only
    val incDir = Files.createTempDirectory("graft-ivf-inc").toString
    Similarity.appendToKmeansIndex(base, cents, incDir) // initial build = append into empty
    Similarity.appendToKmeansIndex(batch, cents, incDir) // the daily shard
    val fullDir = Files.createTempDirectory("graft-ivf-full").toString
    Similarity.appendToKmeansIndex(e, cents, fullDir)
    def contents(dir: String): Set[(Long, Int)] =
      spark.read.schema(Similarity.indexSchema).parquet(dir)
        .select("vec_id", "cell_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(contents(incDir) === contents(fullDir))
    def rows(df: DataFrame): Seq[(Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(Similarity.ivfKmeansTopK(spark, incDir, cents, e)) ===
      rows(Similarity.ivfKmeansTopK(spark, fullDir, cents, e)))
  }

  test("embeddingClusters: transitive chain collapses to one cluster, min-id keeper") {
    val s = spark
    import s.implicits._
    // a→b→c at 17° steps: cos(17°) ≈ 0.956 ≥ 0.95 links neighbors, but
    // cos(34°) ≈ 0.829 < 0.95 — so there is NO a–c pair, and only a
    // cluster-level (CC) decision puts all three in one group. A pair-level
    // drop would over-delete the chain; vector 9 is orthogonal (singleton).
    def v(theta: Double): Seq[Double] = Seq.tabulate(64)(i =>
      if (i == 0) math.cos(theta) else if (i == 1) math.sin(theta) else 0.0)
    val t = math.toRadians(17)
    val chain = Seq((1L, v(0)), (2L, v(t)), (3L, v(2 * t)), (9L, v(math.Pi / 2)))
      .toDF("vec_id", "emb")
    val out = Dedup.embeddingClusters(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 1L), (9L, 9L, 0L)))
  }

  test("IVF top-k recall@10 vs brute force, over the materialized index") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = Similarity.materializedIndex(spark, e, tag = sf)
    val brute = Similarity.bruteForceTopK(e).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(spark, idx, e).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@10 = $recall (ivf probes 4/16 cells)")
  }

  test("IVF probe scan is partition-pruned: non-probed cells are never read") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    // private index copy (not the shared materializedIndex) — we corrupt it
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivf-prune").toString
    Similarity.ivfAssign(e).write.mode("overwrite").partitionBy("cell_id").parquet(idxDir)
    val probed = Similarity.probeCells(e).toSet
    assert(probed.size == 4)
    // overwrite every NON-probed cell's data files with garbage: any read
    // touching them now throws, so a successful query proves pruning
    val corrupted = java.nio.file.Files.list(java.nio.file.Paths.get(idxDir))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("cell_id="))
      .filterNot(p => probed(p.getFileName.toString.stripPrefix("cell_id=").toLong))
      .flatMap(d => java.nio.file.Files.list(d).iterator().asScala)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { f => java.nio.file.Files.write(f, "garbage".getBytes); f }
      .toList
    assert(corrupted.nonEmpty)
    assert(Similarity.ivfTopK(spark, idxDir, e).count() == 10)
    // sanity: the corruption is real — reading a corrupted cell fails
    intercept[Throwable] {
      val bad = corrupted.head.getParent.getFileName.toString.stripPrefix("cell_id=").toInt
      spark.read.schema(Similarity.indexSchema).parquet(idxDir)
        .where(col("cell_id") === bad).collect()
    }
  }

  test("dup clusters: one survivor per near-dup cluster, copies always dropped") {
    val rows = Dedup.dupClusters(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keep = rows.map(r => r._1 -> r._2).toMap
    assert(rows.length == corpus.count(), "one decision per doc")
    // keep_id is a cluster MINIMUM: never above the doc itself
    assert(rows.forall { case (d, k, _) => k <= d })
    // planted exact copies (doc+2e6) are connected to their base: dropped,
    // and their survivor is at most the base id
    corpus.where(col("doc_id") >= 2000000L).select("doc_id").collect()
      .map(_.getLong(0)).foreach { c =>
        assert(keep(c) <= c - 2000000L, s"copy $c kept ${keep(c)}")
      }
    // a doc is a dup iff its survivor is someone else
    assert(rows.forall { case (d, k, dup) => (dup == 1L) == (k != d) })
  }

  test("dup clusters == the collapse/shingles/LSH/verify/CC composition, row for row") {
    // the decision rebuilt from the public helpers, one relation per layer
    def composed(c: DataFrame, bands: Int, rows: Int): DataFrame = {
      val (reps, members) = Dedup.exactCollapse(c)
      val sh = Dedup.shingles(reps.select(col("rep_id").as("doc_id"), col("text")))
      val pairs = Dedup.verifyJaccard(
        Dedup.lshCandidates(sh, bands, rows, portable = false, maxBucket = 1000), sh, 1, 2)
      val comps = graft.kg.canon.ConnectedComponents
        .run(pairs.select(col("a").as("src"), col("b").as("dst")))
        .select(col("node").as("rep_id"), col("component"))
      members
        .join(Dedup.repShingleSizes(sh), Seq("rep_id"), "left")
        .join(comps, Seq("rep_id"), "left")
        .select(col("doc_id"), when(col("n").isNull, col("doc_id"))
          .otherwise(coalesce(col("component"), col("rep_id"))).as("keep_id"))
        .select(col("doc_id"), col("keep_id"),
          when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L).as("is_dup"))
    }
    def rows(df: DataFrame): Seq[(Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val c = adversarialCorpus
    for ((bands, rws) <- Seq((16, 2), (32, 1))) {
      val got = rows(Dedup.dupClusters(c, bands = bands, rows = rws))
      assert(got === rows(composed(c, bands, rws)), s"${bands}x$rws")
      assert(!got.exists(r => r._1 == 3000001L || r._1 == 3000002L),
        "null-text docs get no decision row")
      assert(got.contains((3000013L, 3000012L, 1L)), "repeated-token near-dup missed")
      assert(got.contains((3000006L, 3000006L, 0L)), "zero-shingle copies keep themselves")
    }
  }

  test("hot-bucket guard: a 1000-copy cluster never inflates the CC pair graph") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .where(col("doc_id") < 50)
    val copyText = base.where(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
    def withCopies(k: Int) = base.unionByName(
      spark.range(k).select((col("id") + 10000L).as("doc_id"), lit(copyText).as("text")))
    // the CC input (rep-level near-dup pairs) is INDEPENDENT of the copy
    // count — cluster members never enter candidate generation or CC; they
    // inherit their rep's component through one join
    val p250 = Dedup.lshRepPairs(withCopies(250)).count()
    val p1000 = Dedup.lshRepPairs(withCopies(1000)).count()
    assert(p250 === p1000,
      s"rep-pair graph must not grow with cluster size: 250 -> $p250, 1000 -> $p1000")
    // and the decision is right: every copy's survivor is doc 0
    val keep = Dedup.dupClusters(withCopies(1000)).where(col("doc_id") >= 10000L)
      .select("keep_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(keep === Seq(0L))
  }

  test("bucket cap: binding cap drops cross-text candidates, keeps exact-copy pairs") {
    val s = spark
    import s.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = t1 + " iota" // J(t1,t2) = 6/7 — a strong near-dup of t1
    val c = Seq((1L, t1), (2L, t2), (3L, t1)).toDF("doc_id", "text")
    assert(pairs(Dedup.minhashLsh(c)) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // maxBucket = 1 drops every shared bucket: cross-text candidates vanish
    // (recall-only, by design), exact-copy pairs survive via the collapse
    assert(pairs(Dedup.minhashLsh(c, maxBucket = 1)) === Set((1L, 3L)))
  }

  test("simhash multi-index: 20 tables of 30-bit keys (pigeonhole-exact geometry)") {
    val (reps, _) = Dedup.exactCollapse(corpus)
    val sigs = Dedup.simhashSignatures(reps.select(col("rep_id").as("doc_id"), col("text")))
    // reproduce the band explode bound: every key must fit in 30 bits
    val maxKey = (1L << 30) - 1
    val subsets = (0 until 6).combinations(3).toSeq
    assert(subsets.size === 20)
    val bad = sigs.select(col("sig")).collect().map(_.getLong(0)).flatMap { sig =>
      subsets.map { blks =>
        blks.zipWithIndex.map { case (blk, j) => ((sig >>> (10 * blk)) & 0x3FFL) << (10 * j) }
          .reduce(_ | _)
      }
    }.filter(k => k < 0 || k > maxKey)
    assert(bad.isEmpty)
  }

  test("k-means IVF recall@10 beats the seed-cell baseline (50 queries)") {
    import graft.ops.KMeans
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = Similarity.prepared(e).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    // assignments as the REGISTERED operators produce them
    val seedAssign = Similarity.ivfAssign(e).select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val (_, cents) = Similarity.materializedKmeansIndex(spark, e, tag = sf)
    val q = Similarity.prepared(e).withColumn("qv", KMeans.quantize("emb"))
    val kmAssign = KMeans.assignTo(q, cents, carry = Seq("norm"))
      .select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val seedCells = p.take(16).map { case (id, v, n) => (id.toInt, v, n) }
    def recall(assign: Map[Long, Int], probed: Array[Double] => Set[Int]): Double = {
      val hits = (0L until 50L).map { qid =>
        val (_, qv, qn) = p(qid.toInt)
        def cos(v: Array[Double], n: Double) =
          v.zip(qv).map { case (a, b) => a * b }.sum / (n * qn)
        val scored = p.filter(_._1 != qid).map { case (id, v, n) => (id, cos(v, n)) }
        val truth = scored.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
        val pr = probed(qv)
        val got = scored.filter { case (id, _) => pr(assign(id)) }
          .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
        (truth intersect got).size
      }.sum
      hits / 500.0
    }
    val seedRecall = recall(seedAssign, qv => {
      val qn = math.sqrt(qv.map(x => x * x).sum)
      seedCells.map { case (cid, v, n) =>
        (cid, v.zip(qv).map { case (a, b) => a * b }.sum / (n * qn)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(4).map(_._1).toSet
    })
    val kmRecall = recall(kmAssign, qv => {
      val qq = KMeans.quantizeLocal(qv.toSeq)
      cents.map { case (cid, cv) => (cid, KMeans.dist2Local(qq, cv)) }
        .sortBy { case (cid, d) => (d, cid) }.take(4).map(_._1).toSet
    })
    info(s"recall@10 over 50 queries: seed=$seedRecall kmeans=$kmRecall")
    assert(kmRecall > seedRecall,
      s"trained centroids must beat the seed baseline: km=$kmRecall seed=$seedRecall")
    assert(kmRecall >= 0.6)
  }

  test("sq-compressed IVF: int8 codes, exact re-rank preserves the uncompressed results") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val (kmIdx, kmCents) = Similarity.materializedKmeansIndex(spark, e, tag = sf)
    val (sqIdx, sqCents, s) = Similarity.materializedSqIndex(spark, e, tag = sf)
    // same trainer, same seeds -> identical centroids (the compressed index
    // changes only the per-vector payload, never the coarse quantizer)
    assert(sqCents === kmCents)
    // the stored payload really is int8: schema says tinyint, values are
    // within the construction's [-127, 127] bound
    val idx = spark.read.schema(Similarity.sqIndexSchema).parquet(sqIdx)
    assert(idx.schema("code").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.ByteType)
    val mm = idx.select(
      expr("max(aggregate(code, -128, (a, x) -> greatest(a, cast(x as int))))"),
      expr("min(aggregate(code, 128, (a, x) -> least(a, cast(x as int))))")).head()
    assert(mm.getInt(0) <= 127 && mm.getInt(1) >= -127, s"codes out of int8 range: $mm")
    info(s"int8 step s=$s; logical index payload = ${64 * 1} B codes vs ${64 * 8} B raw emb + 8 B norm")
    // with rerank=50 exact re-ranking, the compressed index must recover
    // (nearly) the uncompressed probed-cell top-10 — quantization may only
    // perturb the CANDIDATE CUT, and 50 candidates for a top-10 leaves slack
    def top(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._2)
    val km = top(Similarity.ivfKmeansTopK(spark, kmIdx, kmCents, e))
    val sq = top(Similarity.ivfSqTopK(spark, sqIdx, sqCents, s, e))
    val overlap = (km.map(_._1).toSet intersect sq.map(_._1).toSet).size
    info(s"sq-vs-km recall@10 = ${overlap / 10.0}")
    assert(overlap >= 9, s"compressed index lost the uncompressed results: km=$km sq=$sq")
  }

  test("pq-compressed IVF: eight 4-bit codes per vector, ADC + exact re-rank holds recall") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val (kmIdx, kmCents) = Similarity.materializedKmeansIndex(spark, e, tag = sf)
    val (pqIdx, pqCents, cb) = Similarity.materializedPqIndex(spark, e, tag = sf)
    // same trainer, same seeds -> identical coarse quantizer
    assert(pqCents === kmCents)
    // codebook: 8 subspaces x 16 codewords x 8 components, driver-held
    assert(cb.map(_._1).distinct.sorted === (0 until 8))
    assert(cb.count(_._1 == 0) === 16)
    assert(cb.forall(_._3.length == 8))
    // the stored payload is m=8 codeword ids, each in [0, 15] — 4 bits
    val idx = spark.read.schema(Similarity.sqIndexSchema).parquet(pqIdx)
    val mm = idx.select(
      expr("max(size(code))"), expr("min(size(code))"),
      expr("max(aggregate(code, 0, (a, x) -> greatest(a, cast(x as int))))"),
      expr("min(aggregate(code, 15, (a, x) -> least(a, cast(x as int))))")).head()
    assert(mm.getInt(0) == 8 && mm.getInt(1) == 8, s"code length: $mm")
    assert(mm.getInt(2) <= 15 && mm.getInt(3) >= 0, s"codes out of 4-bit range: $mm")
    info(s"logical payload = 8 x 4-bit codes (4 B) vs 64 B SQ codes vs 520 B raw")
    // ADC candidates + exact re-rank must recover the uncompressed top-10
    def top(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._2)
    val km = top(Similarity.ivfKmeansTopK(spark, kmIdx, kmCents, e))
    val pq = top(Similarity.ivfPqTopK(spark, pqIdx, pqCents, cb, e))
    val overlap = (km.map(_._1).toSet intersect pq.map(_._1).toSet).size
    info(s"pq-vs-km recall@10 = ${overlap / 10.0}")
    assert(overlap >= 9, s"pq index lost the uncompressed results: km=$km pq=$pq")
  }

  test("duplicatePassages: cross-doc windows merge to maximal spans; within-doc repeats don't count") {
    import spark.implicits._
    val p = (1 to 10).map(i => s"p$i").mkString(" ")  // 10 shared tokens
    val q = (1 to 8).map(i => s"q$i").mkString(" ")   // 8 shared tokens
    val r = (1 to 8).map(i => s"r$i").mkString(" ")   // repeated INSIDE doc 3 only
    val corpus = Seq(
      (1L, s"a1 a2 $p b1 b2 b3 $q"), // p at tokens 3..12, q at 16..23
      (2L, s"$p c1 c2 c3 c4 $q"),    // p at 1..10,  q at 15..22
      (3L, s"$r x $r"),              // within-doc repeat: 1 distinct doc, excluded
      (4L, "s1 s2 s3 s4 s5 s6 s7")   // < 8 tokens: no windows at all
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatePassages(corpus, w = 8).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet
    // the 10-token shared passage = 3 overlapping 8-windows merged into one
    // span; the 8-token shared tail = 1 window = its own span
    assert(got === Set(
      (1L, 3L, 12L, 3L), (1L, 16L, 23L, 1L),
      (2L, 1L, 10L, 3L), (2L, 15L, 22L, 1L)))
    // the cut removes exactly the spanned tokens; span-free docs (the
    // within-doc repeat, the short doc) pass through verbatim
    val cut = Dedup.cutPassages(corpus, w = 8).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet
    assert(cut === Set(
      (1L, 5L, "a1 a2 b1 b2 b3"),
      (2L, 4L, "c1 c2 c3 c4"),
      (3L, 17L, s"$r x $r"),
      (4L, 7L, "s1 s2 s3 s4 s5 s6 s7")))
  }

  test("ivfTopK construction runs exactly 2 driver jobs: 1 vector lookup + 1 probe") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = Similarity.materializedIndex(spark, e, tag = sf)
    val group = s"ivf-jobcount-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "count ivfTopK construction jobs")
    try Similarity.ivfTopK(spark, idx, e) // plan construction only — no action
    finally spark.sparkContext.clearJobGroup()
    // the status store is fed asynchronously: poll until the count is stable
    def jobs(): Int = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    val deadline = System.nanoTime() + 5000000000L
    var last = jobs()
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline && System.nanoTime() - stableSince < 500000000L) {
      Thread.sleep(20)
      val now = jobs()
      if (now != last) { last = now; stableSince = System.nanoTime() }
    }
    assert(last == 2, s"expected 2 construction jobs (lookup + probe), saw $last")
  }

  test("two-level batch top-k == single-window reference ranking") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = Similarity.batchTopK(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: brute-force per-query ranking computed driver-side
    val p = Similarity.prepared(e)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    val byId = p.map(r => r._1 -> r).toMap
    val want = (0L until 5L).flatMap { q =>
      val (_, qv, qn) = byId(q)
      p.filter(_._1 != q)
        .map { case (id, v, n) =>
          (id, v.zip(qv).map { case (a, b) => a * b }.sum / (n * qn)) }
        .sortBy { case (id, cos) => (-cos, id) }
        .take(5).zipWithIndex.map { case ((id, _), i) => (q, id, (i + 1).toLong) }
    }.toSet
    assert(got == want)
  }

  test("langId: trigram profiles classify genuinely mixed-language natural text") {
    val s = spark
    import s.implicits._
    // NON-planted natural sentences (none of these words appear in any
    // profile as a whole token — the trigrams have to do the work)
    val docs = Seq(
      (1L, "der Hund und die Katze spielen mit dem Ball in der Schule", "de"),
      (2L, "the quick brown fox jumps over the lazy dog with a smile", "en"),
      (3L, "le chat et la souris sont dans la maison avec les amis", "fr"),
      (4L, "el perro y el gato de los amigos en la casa por la noche", "es"),
      (5L, "xyzzy plugh", "en"),   // no profile trigram -> unknown
      (6L, "que", "fr"))           // fr/es tie on _qu+que+ue_ -> 'es' (lang asc)
      .toDF("doc_id", "text", "lang")
    val got = graft.ops.TextOps.langId(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    assert(got === Set(
      (1L, "de", 1L),
      (2L, "en", 1L),
      (3L, "fr", 1L),
      (4L, "es", 1L),
      (5L, "unknown", 0L),
      (6L, "es", 0L)))
    // accuracy on the mixed-language fixture (excluding the planted
    // unknown/tie rows): 4/4 — the profiles are discriminative, not
    // machinery-only
    val acc = graft.ops.TextOps.langId(docs.where(col("doc_id") <= 4L))
      .agg(sum(col("is_match"))).head().getLong(0)
    assert(acc === 4L)
  }

  test("lmQuality: hand-computed bigram OOV and mean reference count") {
    val s = spark
    import s.implicits._
    // reference slice = doc_id % 10 == 0 -> docs 0 and 10.
    // ref bigram counts: "a b" 2 (doc 0) + 1 (doc 10) = 3, "b a" 1, "b c" 1
    val docs = Seq(
      (0L, "a b a b c"), // ref; scored too: 4 bigrams, 0 oov, sumc 3+1+3+1=8
      (1L, "a b c d"),   // "a b"->3, "b c"->1, "c d" oov: n=3 noov=1 sumc=4
      (5L, "x y"),       // 1 bigram, all oov
      (10L, "a b")       // ref; n=1, sumc=3
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.lmQuality(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      0L -> ((4L, 0L, 20000L)),      // 10000*8 div 4
      1L -> ((3L, 3333L, 13333L)),   // 10000*1 div 3, 10000*4 div 3
      5L -> ((1L, 10000L, 0L)),
      10L -> ((1L, 0L, 30000L))))
  }

  test("incremental dedup == from-scratch decision over base ∪ shard") {
    import java.nio.file.Files
    import graft.ops.IncrementalDedup
    // the %7 shard includes doc 0 — whose text is committed in base under
    // rep 2000000 (its exact copy) — so the smaller-id-takeover path runs
    val base = corpus.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val shard = corpus.where(pmod(col("doc_id"), lit(7)) === 0)
    val dir = Files.createTempDirectory("graft-inc-eq").toString
    IncrementalDedup.commitState(spark, base, dir)
    def rows(df: DataFrame): Set[(Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = rows(IncrementalDedup.incrementalClusters(spark, dir, shard))
    val scratch = rows(Dedup.dupClusters(corpus))
    assert(inc == scratch,
      s"missing=${(scratch -- inc).take(5)} spurious=${(inc -- scratch).take(5)}")
  }

  test("incremental dedup: sequential shard commits stay decision-identical to from-scratch") {
    import java.nio.file.Files
    import graft.ops.IncrementalDedup
    // three-way split: commit part0, FOLD-AND-COMMIT part1 (state now covers
    // part0 ∪ part1), then decide part2 against the evolved state — the
    // daily-shard lifecycle. %3 splits exact-copy groups and near-dup pairs
    // across shards, so cross-shard attach/candidate paths all run.
    val part = (r: Int) => corpus.where(pmod(col("doc_id"), lit(3)) === r)
    val dir = Files.createTempDirectory("graft-inc-seq").toString
    IncrementalDedup.commitState(spark, part(0), dir)
    // simulate a CRASHED earlier attempt at this tag: half-written garbage,
    // no _COMMITTED marker — the fold must ignore it, the retry must bury it
    val s = spark
    import s.implicits._
    val stale = java.nio.file.Paths.get(dir, "increments", "day-1")
    Seq((999999999L, "crash garbage text", 0L))
      .toDF("rep_id", "text", "n_shingles")
      .write.mode("overwrite").parquet(stale.resolve("reps").toString)
    IncrementalDedup.commitIncrement(spark, dir, part(1), "day-1")
    def rows(df: DataFrame): Set[(Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = rows(IncrementalDedup.incrementalClusters(spark, dir, part(2)))
    val scratch = rows(Dedup.dupClusters(corpus))
    assert(inc == scratch,
      s"missing=${(scratch -- inc).take(5)} spurious=${(inc -- scratch).take(5)}")
    // re-running an already-committed tag is a no-op (idempotent retry)
    IncrementalDedup.commitIncrement(spark, dir, part(1), "day-1")
    assert(rows(IncrementalDedup.incrementalClusters(spark, dir, part(2))) == scratch)
    // the garbage from the crashed attempt is gone from the committed state
    assert(spark.read.parquet(stale.resolve("reps").toString)
      .where(col("rep_id") === 999999999L).isEmpty)
  }

  test("incremental dedup: readers refuse a mismatched state layout version") {
    import java.nio.file.{Files, Paths}
    import graft.ops.IncrementalDedup
    val dir = Files.createTempDirectory("graft-inc-ver").toString
    IncrementalDedup.commitState(spark, corpus, dir)
    // a pre-versioning directory (no _VERSION marker) reads as layout v1:
    // the error must name both versions and the remediation, not surface
    // as a missing-path/unresolved-column failure
    Files.delete(Paths.get(dir, "_VERSION"))
    val e = intercept[IllegalArgumentException](
      IncrementalDedup.decisionAsOf(spark, dir).count())
    assert(e.getMessage.contains("layout v1") &&
      e.getMessage.contains("recommit"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      IncrementalDedup.compact(spark, dir))
    assert(e2.getMessage.contains("layout v1"), e2.getMessage)
    // restoring the marker restores the reader
    Files.writeString(Paths.get(dir, "_VERSION"),
      IncrementalDedup.StateVersion.toString)
    assert(IncrementalDedup.decisionAsOf(spark, dir).count() > 0)
  }

  test("incremental dedup: as-of snapshot reads reproduce each day's decision") {
    import java.nio.file.Files
    import graft.ops.IncrementalDedup
    val part = (r: Int) => corpus.where(pmod(col("doc_id"), lit(3)) === r)
    val dir = Files.createTempDirectory("graft-inc-asof").toString
    IncrementalDedup.commitState(spark, part(0), dir)
    IncrementalDedup.commitIncrement(spark, dir, part(1), "day-1")
    IncrementalDedup.commitIncrement(spark, dir, part(2), "day-2")
    def rows(df: DataFrame): Set[(Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // snapshot at day-1 = from-scratch over part0 ∪ part1, NOT the later data
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir, Some("day-1"))) ===
      rows(Dedup.dupClusters(part(0).union(part(1)))))
    // base-only snapshot: an asOf below every tag sees only the base commit
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir, Some("day-0"))) ===
      rows(Dedup.dupClusters(part(0))))
    // unbounded = current state = from-scratch over everything
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir, None)) ===
      rows(Dedup.dupClusters(corpus)))
  }

  test("incremental dedup: compaction folds increments, survives crash leftovers") {
    import java.nio.file.{Files, Paths}
    import graft.ops.IncrementalDedup
    val part = (r: Int) => corpus.where(pmod(col("doc_id"), lit(4)) === r)
    val dir = Files.createTempDirectory("graft-inc-compact").toString
    IncrementalDedup.commitState(spark, part(0), dir)
    IncrementalDedup.commitIncrement(spark, dir, part(1), "day-1")
    IncrementalDedup.commitIncrement(spark, dir, part(2), "day-2")
    def rows(df: DataFrame): Set[(Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = rows(IncrementalDedup.decisionAsOf(spark, dir))
    IncrementalDedup.compact(spark, dir)
    // read fan-in is back to one generation; decision identical
    assert(Files.readString(Paths.get(dir, "_GENERATION")).trim === "gen-1")
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir)) === before)
    // a crash-between-swap-and-delete leftover must NOT double count:
    // re-commit an already-folded increment directory verbatim
    IncrementalDedup.commitIncrement(spark, dir, part(1), "day-1")
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir)) === before,
      "a folded tag's leftover directory was read again (double counting)")
    // life goes on: a post-compaction increment folds against the new base
    IncrementalDedup.commitIncrement(spark, dir, part(3), "day-3")
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir)) ===
      rows(Dedup.dupClusters(corpus)))
  }

  test("incremental dedup: repeated compactions (generation index, tag retirement carry-forward)") {
    import java.nio.file.{Files, Paths}
    import graft.ops.IncrementalDedup
    val part = (r: Int) => corpus.where(pmod(col("doc_id"), lit(4)) === r)
    val dir = Files.createTempDirectory("graft-inc-recompact").toString
    IncrementalDedup.commitState(spark, part(0), dir)
    def rows(df: DataFrame): Set[(Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (upTo: Int) =>
      rows(Dedup.dupClusters((1 to upTo).foldLeft(part(0))(
        (acc, r) => acc.unionByName(part(r)))))
    // compact #1 (folds day-1), #2 (folds day-2; deletes gen-1 so a naive
    // dir COUNT would re-derive the live generation's name), #3 (folds
    // nothing new — must still pick a fresh generation, not overwrite the
    // live gen-2 it reads from)
    IncrementalDedup.commitIncrement(spark, dir, part(1), "day-1")
    IncrementalDedup.compact(spark, dir)
    IncrementalDedup.commitIncrement(spark, dir, part(2), "day-2")
    IncrementalDedup.compact(spark, dir)
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir)) === expect(2))
    IncrementalDedup.compact(spark, dir)
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir)) === expect(2))
    assert(Files.readString(Paths.get(dir, "_GENERATION")).trim === "gen-3")
    // retirement carries forward: day-1 was folded by compact #1 whose
    // generation is long gone — a delayed retry must still be a no-op, not
    // a re-fold that duplicates the shard's member rows
    IncrementalDedup.commitIncrement(spark, dir, part(1), "day-1")
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir)) === expect(2),
      "a tag retired by an earlier generation was re-folded after compaction")
    // and the lifecycle continues on the compacted store
    IncrementalDedup.commitIncrement(spark, dir, part(3), "day-3")
    assert(rows(IncrementalDedup.decisionAsOf(spark, dir)) ===
      rows(Dedup.dupClusters(corpus)))
  }

  test("incremental dedup: committed texts are never re-processed (corrupted-state proof)") {
    import java.nio.file.Files
    import graft.ops.IncrementalDedup
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-inc-state").toString
    IncrementalDedup.commitState(spark, corpus, dir)
    // a shard of genuinely novel texts: no exact match, no near-dup, so NO
    // committed doc legitimately needs its text re-read
    val shard = (0 until 40).map(i =>
      (9000000L + i, (0 until 6).map(j => s"zq${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    def rows(df: DataFrame): Set[(Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val intact = rows(IncrementalDedup.incrementalClusters(spark, dir, shard))
    assert(intact == rows(Dedup.dupClusters(corpus.unionByName(shard))))
    // corrupt EVERY committed text in the state: any wholesale re-derivation
    // of base shingles/signatures/pairs would observe the corruption and
    // change the decision — result-identity proves old-old work is never
    // redone (stray band collisions may shingle a corrupted candidate text,
    // but its verify then drops exactly as the intact J<0.5 pair would)
    val dir2 = Files.createTempDirectory("graft-inc-corrupt").toString
    Files.copy(java.nio.file.Paths.get(dir, "_VERSION"),
      java.nio.file.Paths.get(dir2, "_VERSION"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    for (sub <- Seq("members", "buckets", "pairs", "comps"))
      spark.read.parquet(s"$dir/$sub").write.parquet(s"$dir2/$sub")
    spark.read.parquet(s"$dir/reps")
      .withColumn("text", concat(lit("zz"), col("rep_id").cast("string")))
      .write.parquet(s"$dir2/reps")
    val corrupted = rows(IncrementalDedup.incrementalClusters(spark, dir2, shard))
    assert(corrupted == intact)
    // and the COMMITTED COMPONENT LABELS are consumed from state, never
    // re-derived from the committed pair graph: plant a label state
    // from-scratch CC could never produce (every rep in one component) and
    // the decision must FOLLOW the corruption — the untouched-label
    // passthrough of the incremental CC path, observed end to end
    val dir3 = Files.createTempDirectory("graft-inc-comps").toString
    Files.copy(java.nio.file.Paths.get(dir, "_VERSION"),
      java.nio.file.Paths.get(dir3, "_VERSION"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    for (sub <- Seq("members", "buckets", "pairs", "reps"))
      spark.read.parquet(s"$dir/$sub").write.parquet(s"$dir3/$sub")
    spark.read.parquet(s"$dir/comps")
      .withColumn("component", lit(-1L))
      .write.parquet(s"$dir3/comps")
    val planted = rows(IncrementalDedup.incrementalClusters(spark, dir3, shard))
    assert(planted != intact)
  }

  test("incremental dedup == dupClusters on adversarial rows split across base and shard") {
    import java.nio.file.Files
    import graft.ops.IncrementalDedup
    // odd/even doc ids put one of each adversarial pair (null, "", 1- and
    // 2-token copies, double spaces, repeated tokens) on each side, and the
    // 1000-copy cluster straddles base and shard; 32x1 runs the 2-of-k
    // admission on both sides
    val c = adversarialCorpus
    val base = c.where(pmod(col("doc_id"), lit(2)) === 0)
    val shard = c.where(pmod(col("doc_id"), lit(2)) === 1)
    def rows(df: DataFrame): Seq[(Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    for ((bands, rws) <- Seq((16, 2), (32, 1))) {
      val scratch = rows(Dedup.dupClusters(c, bands = bands, rows = rws))
      val dir = Files.createTempDirectory("graft-inc-adv").toString
      IncrementalDedup.commitState(spark, base, dir, bands = bands, rows = rws)
      assert(rows(IncrementalDedup.incrementalClusters(spark, dir, shard,
        bands = bands, rows = rws)) === scratch, s"incrementalClusters ${bands}x$rws")
      IncrementalDedup.commitIncrement(spark, dir, shard, "day-1", bands = bands, rows = rws)
      assert(rows(IncrementalDedup.decisionAsOf(spark, dir)) === scratch,
        s"commitIncrement + decisionAsOf ${bands}x$rws")
    }
  }

  test("one commitIncrement costs at most 36 Spark jobs") {
    import java.nio.file.Files
    import graft.ops.IncrementalDedup
    val part = (r: Int) => corpus.where(pmod(col("doc_id"), lit(3)) === r)
    val dir = Files.createTempDirectory("graft-inc-jobs").toString
    IncrementalDedup.commitState(spark, part(0), dir)
    val n = JobRecord(spark)(
      IncrementalDedup.commitIncrement(spark, dir, part(1), "day-1"))._2.jobs
    info(s"commitIncrement: $n jobs")
    // the fold's four pins (the shard's per-doc relation with its
    // distinct-text count observed, matched keys, new buckets, new pairs),
    // their exchanges and broadcasts, and four writes
    assert(n <= 36, s"commitIncrement took $n jobs")
    assert(IncrementalDedup.decisionAsOf(spark, dir).count() ===
      part(0).unionByName(part(1)).where(col("text").isNotNull).count())
  }

  test("exact dedup flags exactly the planted copies") {
    val d = Dedup.exact(corpus)
    val dups = d.where(col("is_dup") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = corpus.where(col("doc_id") >= 2000000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dups == planted)
  }

  test("knn join == brute-force thresholded ranking; planted groups complete") {
    import org.apache.spark.sql.expressions.Window
    import graft.kg.expr.VectorExprs.{dotProduct, l2Norm}
    val derived = Similarity.derivedKnnEmbeddings(spark.read.parquet(s"$sf/embeddings.parquet"))
    def rows(df: DataFrame): Set[(Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(Similarity.knnJoin(derived))
    // brute-force reference: every directed pair scored, one global window
    val withNorm = derived.withColumn("norm", l2Norm(col("emb")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr_id").asc)
    val brute = rows(withNorm.as("x")
      .join(withNorm.as("y"), col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr_id"),
        (dotProduct(col("x.emb"), col("y.emb")) / (col("x.norm") * col("y.norm"))).as("cos"))
      .where(col("cos") >= 0.95)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select(col("vec_id"), col("nbr_id"), col("rank").cast("long")))
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} spurious=${(got -- brute).take(5)}")
    // every planted group of 4 (base %3==0 + three variants) is mutually
    // above the threshold: 4 members x 3 neighbors each
    val nGroups = derived.where(col("vec_id") < 1000000L && col("vec_id") % 3 === 0).count()
    assert(got.size == nGroups * 12, s"groups=$nGroups rows=${got.size}")
  }

  test("curate: gate exact, no duplicate survives, exact copies never win") {
    import graft.ops.TextOps
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextOps.curate(docs).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    // (doc_id, pred_lang, n_tokens, quality_e4): every survivor passes the gate
    assert(rows.forall(r => r.getString(1) == "en" && r.getLong(3) >= 7000L))
    // survivors have pairwise-distinct texts (exact dedup actually applied
    // after the gate)
    val texts = out.select("doc_id").join(corpus, "doc_id")
    assert(texts.groupBy(md5(col("text"))).count().where(col("count") > 1).isEmpty)
    // a planted exact copy (+2M) gates in iff its base does (identical text),
    // and then always loses to the base's smaller doc_id
    assert(rows.forall(_.getLong(0) < 2000000L))
    out.unpersist()
  }
}
