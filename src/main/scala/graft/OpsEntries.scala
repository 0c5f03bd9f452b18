package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.ops.{Dedup, Relational, Sampling, Search, Similarity, TextOps}

/** Training-data-pipeline + relational-coverage queries and their DuckDB
  * oracles (merged into SparkEntry.queries / oracleSql).
  */
object OpsEntries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Build the ops-side build-once artifacts (the four ANN indexes, the
    * incremental-dedup base state) ahead of timing — [[graft.Bench]] calls
    * this so query rows measure the steady-state operator, not a
    * first-touch state build: at production these are standing tables a
    * pipeline maintains across runs, and in-JVM they are [[Standing]]
    * one-time builds that would otherwise land entirely on whichever query
    * touches them first (measured: the base commit was ~16 s of the 25.8 s
    * `dedup_incremental` row).
    */
  def prestage(s: SparkSession, dir: String): Unit = {
    val e = emb(s, dir)
    Similarity.materializedIndex(s, e, tag = dir)
    Similarity.materializedKmeansIndex(s, e, tag = dir)
    Similarity.materializedSqIndex(s, e, tag = dir)
    Similarity.materializedPqIndex(s, e, tag = dir)
    val corpus = Dedup.derivedCorpus(docs(s, dir))
    graft.ops.IncrementalDedup.materializedState(
      s, corpus.where(pmod(col("doc_id"), lit(7)) =!= 0), tag = dir)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text analysis -----------------------------------------------------
    "text_tokens" -> ((s, dir) => TextOps.tokenCounts(docs(s, dir))),
    "text_quality" -> ((s, dir) => TextOps.quality(docs(s, dir))),
    "text_langid" -> ((s, dir) => TextOps.langId(docs(s, dir))),
    "text_fingerprint" -> ((s, dir) =>
      TextOps.fingerprints(docs(s, dir)).select("doc_id", "md5", "rolling")),
    // integer BM25 keyword retrieval: one corpus scan, HOF-filter tf,
    // broadcast df + corpus stats, TakeOrderedAndProject top-k
    "text_bm25_topk" -> ((s, dir) => Search.bm25TopK(docs(s, dir))),
    // Gopher-style repetition signals (dup-token + top-bigram fractions)
    "text_repetition" -> ((s, dir) => TextOps.repetition(docs(s, dir))),
    // eval-set n-gram containment decontamination (broadcast eval shingles)
    "curate_decontaminate" -> ((s, dir) => TextOps.decontaminate(docs(s, dir))),
    // Gopher-style document gate: per-rule 0/1 flag columns + kept verdict
    "curate_gopher" -> ((s, dir) => TextOps.gopherFilter(docs(s, dir))),
    // PII scrubbing over the contact-planted corpus: zero-shuffle row-local
    // redaction + audit counts
    "curate_redact_pii" -> ((s, dir) =>
      TextOps.redactPii(TextOps.piiPlantedCorpus(docs(s, dir)))),
    // source-level quality gate: source-cardinality agg + broadcast verdicts
    "curate_source_gate" -> ((s, dir) => TextOps.sourceGate(docs(s, dir))),
    // first BPE merge iteration: corpus-wide adjacent-pair frequency top-k
    "text_bpe_merges" -> ((s, dir) => TextOps.bpePairs(docs(s, dir))),
    // CCNet-style LM quality: bigram model on the doc_id%10=0 reference
    // slice; per-doc OOV-bigram fraction + mean reference count (exact
    // integer perplexity proxy)
    "text_lm_quality" -> ((s, dir) => TextOps.lmQuality(docs(s, dir))),
    // ---- dedup -------------------------------------------------------------
    "dedup_exact" -> ((s, dir) => Dedup.exact(Dedup.derivedCorpus(docs(s, dir)))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(Dedup.derivedCorpus(docs(s, dir)))),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(Dedup.derivedCorpus(docs(s, dir)))),
    // production LSH geometry (16 bands x 2 rows) with PORTABLE hashing: the
    // oracle replicates the full LSH mechanics (md5-based minhash signatures,
    // banding, candidate join, exact verify) in SQL — it checks the
    // algorithm, not just the end result
    "dedup_minhash_lsh_16x2" -> ((s, dir) =>
      Dedup.minhashLsh(Dedup.derivedCorpus(docs(s, dir)),
        bands = 16, rows = 2, portable = true)),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Dedup.derivedCorpus(docs(s, dir)))),
    // exact-substring duplicate-PASSAGE detection (Lee et al. 2022 restated
    // as windowed fingerprints): cross-doc repeated 8-token windows merged
    // into maximal per-doc spans (gaps-and-islands)
    "dedup_spans" -> ((s, dir) =>
      Dedup.duplicatePassages(Dedup.derivedCorpus(docs(s, dir)))),
    // the span CUT itself: every doc re-emitted with its duplicated
    // passages removed (per-row HOF filter against the folded span arrays)
    "curate_cut_spans" -> ((s, dir) =>
      Dedup.cutPassages(Dedup.derivedCorpus(docs(s, dir)))),
    // the dedup DECISION: connected components over near-dup pairs pick one
    // survivor per cluster (iterative large-star/small-star CC on a
    // data-derived graph; oracle = recursive-CTE reachability)
    "dedup_clusters" -> ((s, dir) =>
      Dedup.dupClusters(Dedup.derivedCorpus(docs(s, dir)))),
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDups(Dedup.derivedEmbeddings(emb(s, dir)))),
    // the embedding-side dedup DECISION: CC over the near-dup pair graph,
    // min-id keeper per cluster (same shape as dedup_clusters for text)
    "dedup_embedding_clusters" -> ((s, dir) =>
      Dedup.embeddingClusters(Dedup.derivedEmbeddings(emb(s, dir)))),
    // incremental dedup: base (6/7 of the corpus) is committed ONCE as
    // signature-store state; the shard (1/7, including smaller-id docs that
    // must take over as keepers) is folded in without any base-vs-base
    // recomputation. Shares the from-scratch recursive-CTE oracle over the
    // FULL corpus — the incremental decision must be indistinguishable.
    "dedup_incremental" -> ((s, dir) => {
      val corpus = Dedup.derivedCorpus(docs(s, dir))
      val state = graft.ops.IncrementalDedup.materializedState(
        s, corpus.where(pmod(col("doc_id"), lit(7)) =!= 0), tag = dir)
      graft.ops.IncrementalDedup.incrementalClusters(
        s, state, corpus.where(pmod(col("doc_id"), lit(7)) === 0))
    }),
    // the compound curation pipeline: quality/language gate -> dedup
    // decision -> curated corpus (stage composition verified end-to-end)
    "curate_corpus" -> ((s, dir) => TextOps.curate(docs(s, dir))),
    // deterministic data-mixing: rate-based stratified Bernoulli (map-side
    // portable-hash filter) and exact-k-per-stratum bottom-k (two-level
    // salted ranking — no single task sorts a whole stratum)
    "curate_sample" -> ((s, dir) => Sampling.stratifiedSample(docs(s, dir))),
    "curate_sample_topk" -> ((s, dir) => Sampling.stratifiedTopK(docs(s, dir))),
    // weighted (probability-proportional-to-length, capped) exact-k sample:
    // integer-exact Efraimidis–Spirakis via min-of-w-hash replication keys —
    // one codegen'd projection (no explode), two-level salted bottom-k
    "curate_sample_weighted" -> ((s, dir) => Sampling.weightedTopK(docs(s, dir))),
    // mixture-targeted budgets: availability-bound per-language token caps
    // from target proportions (argmin binding stratum), then the two-phase
    // prefix fill — the LLaMA-style mixture knob as one operator
    "curate_mixture" -> ((s, dir) => Sampling.mixtureBudget(docs(s, dir))),
    // per-source TOKEN-budget fill: two-phase bucket-histogram prefix scan
    // (no stratum-sized sort); kept set == the naive running-total prefix
    "curate_token_budget" -> ((s, dir) => Sampling.tokenBudget(docs(s, dir))),
    // exact per-language quality PERCENTILE cut via the bounded-domain
    // histogram (no stratum-sized ranking window anywhere)
    "curate_quality_topp" -> ((s, dir) => TextOps.qualityTopP(docs(s, dir))),
    // ---- similarity search -------------------------------------------------
    "sim_cosine_topk" -> ((s, dir) => Similarity.bruteForceTopK(emb(s, dir))),
    // all-pairs thresholded k-NN join: sign-band LSH blocking + two-level
    // salted ranking; oracle = brute force (blocking exact on this corpus)
    "sim_knn_join" -> ((s, dir) =>
      Similarity.knnJoin(Similarity.derivedKnnEmbeddings(emb(s, dir)))),
    "sim_batch_topk" -> ((s, dir) => Similarity.batchTopK(emb(s, dir))),
    "sim_ivf_topk" -> ((s, dir) => {
      val idx = Similarity.materializedIndex(s, emb(s, dir), tag = dir)
      Similarity.ivfTopK(s, idx, emb(s, dir))
    }),
    // k-means-trained IVF: integer-quantized Lloyd (3 iterations, driver-held
    // centroids), integer-Euclidean assignment + probe, double-cosine final
    // scoring; the oracle replicates the ENTIRE training loop in SQL
    "sim_ivf_kmeans_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val (idx, cents) = Similarity.materializedKmeansIndex(s, e, tag = dir)
      Similarity.ivfKmeansTopK(s, idx, cents, e)
    }),
    // compressed ANN: int8 scalar-quantized residuals over the k-means
    // coarse quantizer (the verdict's IVF-PQ item, int8-residual variant) —
    // codes-only partition-pruned scan, integer asymmetric-distance
    // candidate cut, exact re-rank of the survivors
    "sim_ivf_sq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val (idx, cents, scale) = Similarity.materializedSqIndex(s, e, tag = dir)
      Similarity.ivfSqTopK(s, idx, cents, scale, e)
    }),
    // product-quantized IVF (Jégou et al. IVFPQ): 8 subspaces x 16-codeword
    // codebooks over the k-means residuals (~16 B/vector logical), driver-
    // built asymmetric-distance table, top-50 integer cut, exact re-rank
    "sim_ivf_pq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val (idx, cents, cb) = Similarity.materializedPqIndex(s, e, tag = dir)
      Similarity.ivfPqTopK(s, idx, cents, cb, e)
    }),
    // ---- relational coverage -----------------------------------------------
    "q_agg_filter" -> ((s, dir) => Relational.aggFilter(s, dir)),
    "q_join_broadcast" -> ((s, dir) => Relational.joinBroadcast(s, dir)),
    "q_join_sortmerge" -> ((s, dir) => Relational.joinSortMerge(s, dir)),
    "q_semi_anti" -> ((s, dir) => Relational.semiAnti(s, dir)),
    "q_window_topk" -> ((s, dir) => Relational.windowTopK(s, dir)),
    "q_rollup" -> ((s, dir) => Relational.rollupStatus(s, dir)),
    "q_setops" -> ((s, dir) => Relational.setOps(s, dir)),
    "q_json_events" -> ((s, dir) => Relational.jsonEvents(s, dir)),
    "q_range_join" -> ((s, dir) => Relational.rangeJoin(s, dir)),
    "q_date_math" -> ((s, dir) => Relational.dateMath(s, dir)))

  /** Shared corpus CTE mirroring [[Dedup.derivedCorpus]] (DuckDB lambda index
    * is 1-based, hence (i-1)).
    */
  private val corpusCte =
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id + 1000000 AS BIGINT),
      |    array_to_string(list_transform(string_split(text, ' '),
      |      (t, i) -> CASE WHEN (i - 1) % 10 = 0 THEN 'xdup' ELSE t END), ' ')
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT CAST(doc_id + 2000000 AS BIGINT), text FROM documents WHERE doc_id % 5 = 0
      |)""".stripMargin

  /** Distinct 3-gram shingles + per-doc sizes over `rel`, shared by the
    * Jaccard/clusters/curation oracles.
    */
  private def shinglesCtesOver(rel: String) =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM $rel),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
       |       FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i FROM tok)),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)""".stripMargin

  private val shinglesCtes = shinglesCtesOver("corpus")

  private def jaccardSql(numer: Int, denom: Int) =
    s"""$corpusCte,
       |$shinglesCtes,
       |cm AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
       |       FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT a, b, CAST(common AS BIGINT) AS common,
       |       CAST(sa.n + sb.n - common AS BIGINT) AS union_
       |FROM cm JOIN sz sa ON cm.a = sa.doc_id JOIN sz sb ON cm.b = sb.doc_id
       |WHERE common * $denom >= (sa.n + sb.n - common) * $numer""".stripMargin

  /** First 15 hex digits of md5(expr) packed into a 60-bit integer (hex
    * digits via strpos, packed with integer shifts — no precision-losing
    * float pow). Identical to [[graft.kg.expr.functions.hash60]].
    */
  private[graft] def duckHash60(sExpr: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 15), k ->
       |    ((strpos('0123456789abcdef', substr(md5($sExpr), k, 1)) - 1)::BIGINT
       |      << (4 * (15 - k))))) AS BIGINT)""".stripMargin

  /** The portable 31-bit base hash of [[Dedup]]: [[duckHash60]] mod P. */
  private def duckBaseHash(sExpr: String): String =
    s"${duckHash60(sExpr)} % ${Dedup.PortableP}"

  /** Full-mechanics oracle for dedup_minhash_lsh_16x2: identical md5-seeded
    * universal-hash minhash signatures (constants shared verbatim with
    * Dedup.portableHashParams), identical (band, bucket) candidate join,
    * identical exact verify — hash-equal output including any (intended)
    * recall misses of the 16x2 geometry.
    */
  private val minhashLsh16x2Sql: String = {
    val p = Dedup.PortableP
    val sigCols = Dedup.portableHashParams(32).zipWithIndex.map { case ((a, b), j) =>
      s"min(($a * hb + $b) % $p) AS h$j"
    }.mkString(",\n  ")
    val bandSelects = (0 until 16).map { b =>
      s"SELECT doc_id, $b AS band, CAST(h${2 * b} AS VARCHAR) || ':' || CAST(h${2 * b + 1} AS VARCHAR) AS bkey FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""$corpusCte,
       |$shinglesCtes,
       |shb AS (SELECT doc_id, ${duckBaseHash("s")} AS hb FROM sh),
       |sigs AS (SELECT doc_id,
       |  $sigCols
       |  FROM shb GROUP BY doc_id),
       |bands AS (
       |  $bandSelects
       |),
       |cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |          FROM bands x JOIN bands y
       |          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |cm AS (SELECT a, b, count(*) AS common FROM cands
       |       JOIN sh sa ON sa.doc_id = cands.a
       |       JOIN sh sb ON sb.doc_id = cands.b AND sa.s = sb.s
       |       GROUP BY 1, 2)
       |SELECT a, b, CAST(common AS BIGINT) AS common,
       |       CAST(sa.n + sb.n - common AS BIGINT) AS union_
       |FROM cm JOIN sz sa ON cm.a = sa.doc_id JOIN sz sb ON cm.b = sb.doc_id
       |WHERE common * 2 >= (sa.n + sb.n - common) * 1""".stripMargin
  }

  /** Exact oracle for dedup_simhash: DuckDB computes the IDENTICAL 60-bit
    * md5-digit signatures, then brute-force hamming (the Spark side's 4x15-bit
    * banding is exact for hamming <= 3 by pigeonhole, so brute force is the
    * same relation — OpsSpec asserts the banding exactness separately).
    */
  private val simhashSql: String = {
    val bitSums = (0 until 60).map { j =>
      s"sum((((hb >> ${4 * (14 - j / 4) + j % 4}) & 1) * 2 - 1)) AS b$j"
    }.mkString(",\n  ")
    val sigOr = (0 until 60).map { j =>
      s"(CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)"
    }.mkString(" | ")
    s"""$corpusCte,
       |th AS (SELECT doc_id, ${duckHash60("t")} AS hb
       |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus)),
       |bits AS (SELECT doc_id,
       |  $bitSums
       |  FROM th GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $sigOr AS sig FROM bits)
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |       CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
       |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sig, y.sig)) <= 3""".stripMargin
  }

  /** The dedup-decision mechanics as CTEs (assumes sh/sz in scope): J>=1/2
    * pair relation, symmetric closure, transitive reachability (recursive
    * CTE), min-reachable component per node. Shared by the dedup_clusters
    * and curate_corpus oracles.
    */
  private val reachCompCtes: String =
    """cm AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
      |       FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
      |pr AS (SELECT a, b FROM cm
      |       JOIN sz sa ON cm.a = sa.doc_id JOIN sz sb ON cm.b = sb.doc_id
      |       WHERE common * 2 >= (sa.n + sb.n - common) * 1),
      |sym AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
      |nodes AS (SELECT DISTINCT x AS n FROM sym),
      |reach(s, t) AS (
      |  SELECT n, n FROM nodes
      |  UNION
      |  SELECT r.s, e.y FROM reach r JOIN sym e ON r.t = e.x
      |),
      |comp AS (SELECT s AS d, min(t) AS keep FROM reach GROUP BY s)""".stripMargin

  /** Recursive-CTE oracle for dedup_clusters: the same J>=1/2 pair relation,
    * symmetric closure, transitive reachability, min-reachable per node;
    * docs in no pair keep themselves.
    */
  private val dupClustersSql: String =
    s"""${corpusCte.replaceFirst("WITH corpus", "WITH RECURSIVE corpus")},
       |$shinglesCtes,
       |$reachCompCtes
       |SELECT c.doc_id,
       |  CAST(coalesce(comp.keep, c.doc_id) AS BIGINT) AS keep_id,
       |  CAST(CASE WHEN coalesce(comp.keep, c.doc_id) != c.doc_id
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM corpus c LEFT JOIN comp ON comp.d = c.doc_id""".stripMargin

  /** Trigram-profile language scoring as CTEs over `rel`: lp = the profile
    * VALUES (verbatim from TextOps.langProfiles — single source), tg = EVERY
    * trigram occurrence of the '_'-padded lowercased text, lb = the winning
    * (doc_id, mlang, score) per doc (score desc, lang asc). Shared by the
    * text_langid and curate_corpus oracles.
    */
  private def langBestCtes(rel: String): String =
    s"""lp(trigram, plang, w) AS (VALUES
       |  ${TextOps.langProfiles.map { case (t, l, w) => s"('$t', '$l', $w)" }.mkString(", ")}),
       |tg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(norm) - 2),
       |         i -> substr(norm, i, 3))) AS trigram
       |       FROM (SELECT doc_id, '_' || replace(lower(text), ' ', '_') || '_' AS norm FROM $rel)),
       |lb AS (SELECT doc_id, plang AS mlang, score FROM (
       |         SELECT doc_id, plang, sum(w) AS score
       |         FROM tg JOIN lp USING (trigram) GROUP BY 1, 2)
       |       QUALIFY row_number() OVER (PARTITION BY doc_id
       |         ORDER BY score DESC, plang ASC) = 1)""".stripMargin

  /** Composition oracle for curate_corpus: the text_quality and text_langid
    * mechanics (same stopword list / trigram-profile VALUES — single sources
    * in TextOps), the exact integer/string gate, then the FULL dedup-decision
    * reachability construction over the gate's survivors; only each
    * cluster's keeper is emitted.
    */
  private val curateSql: String =
    s"""${corpusCte.replaceFirst("WITH corpus", "WITH RECURSIVE corpus")},
       |st AS (SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
       |         CAST(floor(10000.0 * (1.0 - 1.0 * ns / nt) * least(nt, 64) / 64.0) AS BIGINT) AS quality_e4
       |       FROM (SELECT doc_id, len(string_split(text, ' ')) AS nt,
       |               len(list_filter(string_split(text, ' '),
       |                   t -> t IN (${TextOps.stopwords.map(w => s"'$w'").mkString(", ")}))) AS ns
       |             FROM corpus)),
       |${langBestCtes("corpus")},
       |kept AS (SELECT c.doc_id, c.text, st.n_tokens, st.quality_e4,
       |                coalesce(lb.mlang, 'unknown') AS pred_lang
       |         FROM corpus c JOIN st USING (doc_id) LEFT JOIN lb USING (doc_id)
       |         WHERE st.quality_e4 >= 7000
       |           AND coalesce(lb.mlang, 'unknown') IN ('en')),
       |${shinglesCtesOver("kept")},
       |$reachCompCtes
       |SELECT k.doc_id, k.pred_lang, k.n_tokens, k.quality_e4
       |FROM kept k LEFT JOIN comp ON comp.d = k.doc_id
       |WHERE coalesce(comp.keep, k.doc_id) = k.doc_id""".stripMargin

  private val embCte =
    """WITH emb AS (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings
      |  UNION ALL
      |  SELECT CAST(vec_id + 1000000 AS BIGINT),
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      (x, i) -> CASE WHEN i = 1 THEN x * 1.01 ELSE x END)
      |  FROM embeddings WHERE vec_id % 3 = 0
      |)""".stripMargin

  /** Mirrors [[graft.ops.Similarity.derivedKnnEmbeddings]] (DuckDB lambda
    * index is 1-based, hence i = 1; scale factors are the same decimal
    * literals, so both engines hold the identical double).
    */
  private val knnEmbCte: String = {
    val variants = (1 to 3).map { m =>
      s"""  UNION ALL
         |  SELECT CAST(vec_id + ${m}000000 AS BIGINT),
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      (x, i) -> CASE WHEN i = 1 THEN x * 1.0$m ELSE x END)
         |  FROM embeddings WHERE vec_id % 3 = 0""".stripMargin
    }.mkString("\n")
    s"""WITH emb AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings
       |$variants
       |)""".stripMargin
  }

  /** Brute-force oracle for sim_knn_join: every directed pair at cosine >=
    * threshold, ranked per query vector. The Spark plan's LSH blocking is
    * exact on this corpus (see knnJoin's scaladoc), so the relations agree.
    */
  private val knnJoinSql: String =
    s"""$knnEmbCte
       |SELECT vec_id, nbr_id,
       |  CAST(row_number() OVER (PARTITION BY vec_id
       |         ORDER BY cos DESC, nbr_id ASC) AS BIGINT) AS rank
       |FROM (
       |  SELECT x.vec_id AS vec_id, y.vec_id AS nbr_id,
       |    list_dot_product(x.e, y.e) /
       |      (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) AS cos
       |  FROM emb x JOIN emb y ON x.vec_id != y.vec_id)
       |WHERE cos >= 0.95
       |QUALIFY rank <= 3""".stripMargin

  /** Replicates the IVF mechanics: deterministic cells (vec_id < 16), nearest-
    * cell assignment (cos desc, cell_id asc), 4-cell probe, top-10 within the
    * probed cells.
    */
  private val ivfTopKSql =
    """WITH emb AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
      |                    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |cells AS (SELECT vec_id AS cell_id, e AS ce FROM emb WHERE vec_id < 16),
      |assigned AS (
      |  SELECT vec_id, cell_id FROM (
      |    SELECT emb.vec_id, cells.cell_id,
      |      list_dot_product(emb.e, cells.ce) /
      |        (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(cells.ce, cells.ce))) AS ccos
      |    FROM emb, cells)
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id ASC) = 1
      |),
      |q AS (SELECT e AS qe FROM emb WHERE vec_id = 0),
      |probe AS (
      |  SELECT cell_id FROM cells, q
      |  ORDER BY list_dot_product(ce, qe) /
      |    (sqrt(list_dot_product(ce, ce)) * sqrt(list_dot_product(qe, qe))) DESC,
      |    cell_id ASC
      |  LIMIT 4)
      |SELECT vec_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
      |FROM (
      |  SELECT emb.vec_id,
      |    list_dot_product(emb.e, q.qe) /
      |      (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(q.qe, q.qe))) AS cos
      |  FROM emb JOIN assigned a ON emb.vec_id = a.vec_id, q
      |  WHERE a.cell_id IN (SELECT cell_id FROM probe) AND emb.vec_id != 0)
      |QUALIFY rank <= 10""".stripMargin

  /** Full-mechanics oracle for sim_ivf_kmeans_topk: the ENTIRE integer
    * k-means loop unrolled in SQL — quantization floor(x*1000), per-
    * iteration integer-Euclidean argmin assignment (d2 asc, cell_id asc) and
    * floor-division centroid means (emptied cells keep their previous
    * centroid), then the 4-cell integer probe and the double-cosine top-10
    * within probed cells. Integer sums are order-independent, so the SQL
    * centroids are bit-identical to KMeans.train's.
    */
  /** Shared CTE prefix of the trained-IVF oracles (sim_ivf_kmeans_topk and
    * sim_ivf_sq_topk): the ENTIRE integer k-means loop unrolled in SQL —
    * quantization floor(x*1000), per-iteration integer-Euclidean argmin
    * assignment (d2 asc, cell_id asc) and floor-division centroid means
    * (emptied cells keep their previous centroid) — plus the final
    * assignment `af`, the quantized query `qq` and the 4-cell integer
    * `probe`. Integer sums are order-independent, so the SQL centroids are
    * bit-identical to KMeans.train's.
    */
  private def kmeansCtes(iters: Int): String = {
    // one Lloyd iteration: assign to c$i, update to c${i+1}
    def iteration(i: Int): String =
      s"""a$i AS (
         |  SELECT vec_id, qv, cell_id FROM (
         |    SELECT q.vec_id, q.qv, c.cell_id,
         |      list_sum(list_transform(generate_series(1, len(q.qv)),
         |        j -> (q.qv[j] - c.cv[j]) * (q.qv[j] - c.cv[j]))) AS d2
         |    FROM q, c${i - 1} c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2 ASC, cell_id ASC) = 1),
         |u$i AS (
         |  SELECT cell_id, j,
         |    CAST((s - (((s % c) + c) % c)) / c AS BIGINT) AS comp
         |  FROM (SELECT cell_id, j, sum(qv[j]) AS s, count(*) AS c
         |        FROM a$i, (SELECT unnest(generate_series(1, 64)) AS j) g
         |        GROUP BY 1, 2)),
         |c$i AS (
         |  SELECT p.cell_id, coalesce(n.cv, p.cv) AS cv
         |  FROM c${i - 1} p LEFT JOIN
         |    (SELECT cell_id, list(comp ORDER BY j) AS cv FROM u$i GROUP BY 1) n
         |  USING (cell_id))""".stripMargin
    s"""emb AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |                    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT vec_id,
       |        list_transform(e, x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qv
       |      FROM emb),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell_id, qv AS cv FROM q WHERE vec_id < 16),
       |${(1 to iters).map(iteration).mkString(",\n")},
       |af AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT q.vec_id, c.cell_id,
       |      list_sum(list_transform(generate_series(1, len(q.qv)),
       |        j -> (q.qv[j] - c.cv[j]) * (q.qv[j] - c.cv[j]))) AS d2
       |    FROM q, c$iters c)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d2 ASC, cell_id ASC) = 1),
       |qq AS (SELECT qv FROM q WHERE vec_id = 0),
       |probe AS (
       |  SELECT cell_id FROM c$iters, qq
       |  ORDER BY list_sum(list_transform(generate_series(1, len(qq.qv)),
       |    j -> (qq.qv[j] - cv[j]) * (qq.qv[j] - cv[j]))) ASC, cell_id ASC
       |  LIMIT 4)""".stripMargin
  }

  private val ivfKmeansTopKSql: String =
    s"""WITH ${kmeansCtes(3)},
       |qe AS (SELECT e FROM emb WHERE vec_id = 0)
       |SELECT vec_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
       |FROM (
       |  SELECT emb.vec_id,
       |    list_dot_product(emb.e, qe.e) /
       |      (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(qe.e, qe.e))) AS cos
       |  FROM emb JOIN af ON emb.vec_id = af.vec_id, qe
       |  WHERE af.cell_id IN (SELECT cell_id FROM probe) AND emb.vec_id != 0)
       |QUALIFY rank <= 10""".stripMargin

  /** Full-mechanics oracle for sim_ivf_sq_topk: the k-means prefix above,
    * then the scalar-quantized index EXACTLY as materializedSqIndex builds
    * it — integer residuals vs the final centroids, the global int8 step
    * s = max(1, ceil(max|r|/127)), floor-division codes — the integer
    * asymmetric-distance ranking within the probed cells, the top-`rerank`
    * candidate cut (d2a asc, vec_id asc), and the exact double-cosine
    * re-rank of the survivors. Every stage that decides the candidate set
    * is integer arithmetic, so the relations agree bit-exactly.
    */
  private val ivfSqTopKSql: String =
    s"""WITH ${kmeansCtes(3)},
       |res AS (
       |  SELECT a.vec_id, a.cell_id,
       |    list_transform(generate_series(1, len(q.qv)), j -> q.qv[j] - c.cv[j]) AS rv
       |  FROM af a JOIN q USING (vec_id) JOIN c3 c USING (cell_id)),
       |sc AS (SELECT greatest(1, CAST((m + 126) // 127 AS BIGINT)) AS s
       |       FROM (SELECT max(list_max(list_transform(rv, x -> abs(x)))) AS m FROM res)),
       |codes AS (
       |  SELECT vec_id, cell_id,
       |    list_transform(rv, r -> CAST((r - (((r % s) + s) % s)) / s AS BIGINT)) AS code
       |  FROM res, sc),
       |d2a AS (
       |  SELECT cd.vec_id,
       |    list_sum(list_transform(generate_series(1, len(qq.qv)),
       |      j -> (qq.qv[j] - (ct.cv[j] + cd.code[j] * sc.s))
       |         * (qq.qv[j] - (ct.cv[j] + cd.code[j] * sc.s)))) AS d2a
       |  FROM codes cd JOIN c3 ct USING (cell_id), qq, sc
       |  WHERE cd.cell_id IN (SELECT cell_id FROM probe) AND cd.vec_id != 0),
       |cand AS (SELECT vec_id FROM d2a ORDER BY d2a ASC, vec_id ASC LIMIT 50),
       |qe AS (SELECT e FROM emb WHERE vec_id = 0)
       |SELECT vec_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
       |FROM (
       |  SELECT emb.vec_id,
       |    list_dot_product(emb.e, qe.e) /
       |      (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(qe.e, qe.e))) AS cos
       |  FROM emb JOIN cand USING (vec_id), qe)
       |QUALIFY rank <= 10""".stripMargin

  /** Shared CTE prefix of the dedup_spans / curate_cut_spans oracles:
    * identical 60-bit window fingerprints ([[duckHash60]] == Spark's
    * conv-of-md5, so even a fingerprint collision matches both sides),
    * cross-document frequency cut, and the same gaps-and-islands interval
    * merge, ending at `il` (one row per surviving window, island-tagged).
    * w = 8 tokens (DuckDB slice ts[i:i+7] is INCLUSIVE — 8 elements,
    * mirroring Spark's slice(ts, i, 8)).
    */
  private val spanIslandCtes: String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
       |wh AS (SELECT doc_id, i AS start_,
       |         ${duckHash60("array_to_string(ts[i:i+7], ' ')")} AS h
       |       FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i FROM tok)),
       |dk AS (SELECT h FROM wh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |hits AS (SELECT wh.doc_id, wh.start_, wh.start_ + 7 AS end_
       |         FROM wh JOIN dk USING (h)),
       |fl AS (SELECT doc_id, start_, end_,
       |         max(end_) OVER (PARTITION BY doc_id ORDER BY start_
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |       FROM hits),
       |il AS (SELECT doc_id, start_, end_,
       |         sum(CASE WHEN pmax IS NULL OR start_ > pmax + 1 THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY start_ ROWS UNBOUNDED PRECEDING) AS isl
       |       FROM fl)""".stripMargin

  private val dedupSpansSql: String =
    s"""$corpusCte,
       |$spanIslandCtes
       |SELECT doc_id, CAST(min(start_) AS BIGINT) AS span_start,
       |       CAST(max(end_) AS BIGINT) AS span_end,
       |       CAST(count(*) AS BIGINT) AS n_windows
       |FROM il GROUP BY doc_id, isl""".stripMargin

  /** Oracle for curate_cut_spans: the span mechanics above, folded to
    * per-doc span arrays, then the same filter-by-position token cut
    * (DuckDB lambda index i is 1-based == the Spark side's i + 1).
    */
  private val cutSpansSql: String =
    s"""$corpusCte,
       |$spanIslandCtes,
       |sp AS (SELECT doc_id, CAST(min(start_) AS BIGINT) AS s,
       |              CAST(max(end_) AS BIGINT) AS e
       |       FROM il GROUP BY doc_id, isl),
       |spl AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM sp GROUP BY doc_id)
       |-- coalesce: DuckDB array_to_string([]) is NULL, Spark array_join is ''
       |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_tokens_kept,
       |       coalesce(array_to_string(list_transform(kept, x -> x.t), ' '), '') AS clean_text
       |FROM (SELECT c2.doc_id,
       |        list_filter(list_transform(string_split(c2.text, ' '),
       |            (t, i) -> {'t': t, 'p': CAST(i AS BIGINT)}),
       |          x -> len(list_filter(coalesce(sl.spans,
       |                 CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
       |            sp2 -> x.p >= sp2.s AND x.p <= sp2.e)) = 0) AS kept
       |      FROM corpus c2 LEFT JOIN spl sl USING (doc_id))""".stripMargin

  /** Oracle for sim_ivf_pq_topk: the k-means prefix, residuals, the SEEDED
    * per-subspace codebooks (residual sub-vectors of vec_id < 16), argmin
    * encoding (d2 asc, cid asc), the per-(probed cell, subspace, codeword)
    * asymmetric-distance table, code-lookup distance sums, the top-50 cut,
    * and the exact double-cosine re-rank — every candidate-deciding stage is
    * integer arithmetic, mirroring materializedPqIndex/ivfPqTopK exactly.
    */
  private val ivfPqTopKSql: String =
    s"""WITH ${kmeansCtes(3)},
       |res AS (
       |  SELECT a.vec_id, a.cell_id,
       |    list_transform(generate_series(1, len(q.qv)), j -> q.qv[j] - c.cv[j]) AS rv
       |  FROM af a JOIN q USING (vec_id) JOIN c3 c USING (cell_id)),
       |subs AS (SELECT unnest(generate_series(1, 8)) AS u),
       |cbk AS (SELECT subs.u, CAST(r.vec_id AS INT) AS cid,
       |         list_transform(generate_series(1, 8), l -> r.rv[(subs.u - 1) * 8 + l]) AS cw
       |       FROM res r, subs WHERE r.vec_id < 16),
       |enc AS (SELECT vec_id, cell_id, u, cid FROM (
       |          SELECT r.vec_id, r.cell_id, c.u, c.cid,
       |            list_sum(list_transform(generate_series(1, 8),
       |              l -> (r.rv[(c.u - 1) * 8 + l] - c.cw[l])
       |                 * (r.rv[(c.u - 1) * 8 + l] - c.cw[l]))) AS d2
       |          FROM res r, cbk c)
       |        QUALIFY row_number() OVER (PARTITION BY vec_id, u
       |          ORDER BY d2 ASC, cid ASC) = 1),
       |qres AS (SELECT p.cell_id,
       |         list_transform(generate_series(1, 64), j -> qq.qv[j] - ct.cv[j]) AS qrv
       |       FROM probe p JOIN c3 ct USING (cell_id), qq),
       |dtab AS (SELECT qres.cell_id, c.u, c.cid,
       |           list_sum(list_transform(generate_series(1, 8),
       |             l -> (qres.qrv[(c.u - 1) * 8 + l] - c.cw[l])
       |                * (qres.qrv[(c.u - 1) * 8 + l] - c.cw[l]))) AS d2u
       |         FROM qres, cbk c),
       |d2a AS (SELECT e.vec_id, sum(t.d2u) AS d2a
       |        FROM enc e JOIN dtab t
       |          ON t.cell_id = e.cell_id AND t.u = e.u AND t.cid = e.cid
       |        WHERE e.vec_id != 0 GROUP BY 1),
       |cand AS (SELECT vec_id FROM d2a ORDER BY d2a ASC, vec_id ASC LIMIT 100),
       |qe AS (SELECT e FROM emb WHERE vec_id = 0)
       |SELECT vec_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
       |FROM (
       |  SELECT emb.vec_id,
       |    list_dot_product(emb.e, qe.e) /
       |      (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(qe.e, qe.e))) AS cos
       |  FROM emb JOIN cand USING (vec_id), qe)
       |QUALIFY rank <= 10""".stripMargin

  /** Sampling-bucket CTE shared by the curate_sample oracles: the IDENTICAL
    * salted md5 → 60-bit integer → mod 10⁴ construction as
    * [[Sampling.bucket]] (duckHash60 mirrors Spark's conv-of-md5 exactly).
    */
  private val sampleBucketCte: String =
    s"""b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       |  ${duckHash60("'smp:' || CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
       |  FROM documents)""".stripMargin

  /** Full-mechanics oracle for text_bm25_topk: same integer BM25 restatement
    * (rational odds-idf, single floor-division per term — Spark `div` ==
    * DuckDB `//` on positives), terms embedded verbatim from
    * [[Search.defaultTerms]] (single source).
    */
  private val bm25Sql: String = {
    val termList = Search.defaultTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |                     string_split(text, ' ') AS ts FROM documents),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                 CAST(sum(len(ts)) AS BIGINT) AS a FROM base),
       |tf AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, q.term,
       |         CAST(len(list_filter(ts, x -> x = q.term)) AS BIGINT) AS tf
       |       FROM base, (SELECT unnest([$termList]) AS term) q),
       |fq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
       |       WHERE tf > 0 GROUP BY 1),
       |sc AS (SELECT f.doc_id,
       |         (10000 * (2*s.n - 2*d.df + 1) * 22 * f.tf * s.a) //
       |         ((2*d.df + 1) * (10*f.tf*s.a + 3*s.a + 9*f.dl*s.n)) AS sc
       |       FROM tf f JOIN fq d USING (term) CROSS JOIN stats s WHERE f.tf > 0)
       |SELECT doc_id, CAST(sum(sc) AS BIGINT) AS score_e4,
       |       CAST(count(*) AS BIGINT) AS n_terms
       |FROM sc GROUP BY 1
       |ORDER BY score_e4 DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "text_bm25_topk" -> bm25Sql,
    "text_repetition" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |                     string_split(text, ' ') AS ts FROM documents),
        |st AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS nt,
        |              CAST(len(list_distinct(ts)) AS BIGINT) AS nd FROM base),
        |bg AS (SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS b
        |       FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM base)),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |tb AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_n FROM bc GROUP BY 1)
        |SELECT st.doc_id, st.nt AS n_tokens,
        |  CAST(floor(10000.0 * (st.nt - st.nd) / st.nt) AS BIGINT) AS dup_token_ratio_e4,
        |  CAST(coalesce(tb.top_n, 0) AS BIGINT) AS top_bigram_n,
        |  CAST(CASE WHEN st.nt > 1
        |       THEN floor(10000.0 * coalesce(tb.top_n, 0) / (st.nt - 1))
        |       ELSE 0 END AS BIGINT) AS top_bigram_ratio_e4
        |FROM st LEFT JOIN tb USING (doc_id)""".stripMargin,
    // identical planting (closed-form in doc_id) + identical regex patterns
    // (shared Scala constants, Java-regex/RE2-portable by construction);
    // 'g' flag = Spark's always-global regexp_replace
    "curate_redact_pii" ->
      s"""WITH planted AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text ||
         |    (CASE WHEN doc_id % 3 = 0
         |          THEN ' kontakt: hr' || CAST(doc_id AS VARCHAR) ||
         |               '@firma' || CAST(doc_id % 7 AS VARCHAR) || '.ch'
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 4 = 0
         |          THEN ' tel: +41 79 ' || CAST(doc_id % 1000 AS VARCHAR) ||
         |               ' ' || CAST(doc_id % 100 AS VARCHAR)
         |          ELSE '' END) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '${TextOps.EmailPat}', '<EMAIL>', 'g'),
         |                 '${TextOps.PhonePat}', '<PHONE>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(text, '${TextOps.EmailPat}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextOps.PhonePat}')) AS BIGINT) AS n_phones
         |FROM planted""".stripMargin,
    // every Gopher rule restated in SQL over the same split; thresholds are
    // exact integers so the cut is bit-identical
    "curate_gopher" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |                     string_split(text, ' ') AS ts FROM documents),
        |st AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS nt,
        |         CAST(len(list_distinct(ts)) AS BIGINT) AS nd,
        |         CAST(len(list_distinct(list_filter(ts,
        |              t -> t IN ('the', 'a', 'und', 'mit')))) AS BIGINT) AS ndstop,
        |         CAST(list_sum(list_transform(ts, t -> len(t))) AS BIGINT) AS sumlen
        |       FROM base),
        |bg AS (SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS b
        |       FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM base)),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |tb AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_n FROM bc GROUP BY 1),
        |fl AS (SELECT st.doc_id, st.nt,
        |         CASE WHEN st.nt < 40 OR st.nt > 10000 THEN 1 ELSE 0 END AS f_len,
        |         CASE WHEN floor(10000.0 * st.sumlen / st.nt) < 30000
        |                OR floor(10000.0 * st.sumlen / st.nt) > 100000 THEN 1 ELSE 0 END AS f_mwl,
        |         CASE WHEN st.ndstop < 2 THEN 1 ELSE 0 END AS f_stop,
        |         CASE WHEN floor(10000.0 * (st.nt - st.nd) / st.nt) > 6500 THEN 1 ELSE 0 END AS f_dup,
        |         CASE WHEN st.nt > 1 AND
        |              floor(10000.0 * coalesce(tb.top_n, 0) / (st.nt - 1)) > 800
        |              THEN 1 ELSE 0 END AS f_bigram
        |       FROM st LEFT JOIN tb USING (doc_id))
        |SELECT doc_id, nt AS n_tokens,
        |  CAST(f_len AS BIGINT) AS f_len, CAST(f_mwl AS BIGINT) AS f_mwl,
        |  CAST(f_stop AS BIGINT) AS f_stop, CAST(f_dup AS BIGINT) AS f_dup,
        |  CAST(f_bigram AS BIGINT) AS f_bigram,
        |  CAST(CASE WHEN f_len + f_mwl + f_stop + f_dup + f_bigram = 0
        |       THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM fl""".stripMargin,
    // source verdicts from the same per-doc quality expression; integer
    // floor-div mean; kept docs = join back on cleared sources
    "curate_source_gate" ->
      s"""WITH qd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         |        CAST(floor(10000.0 * (1.0 - 1.0 * ns / nt) * least(nt, 64) / 64.0) AS BIGINT) AS q
         |      FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS nt,
         |              len(list_filter(string_split(text, ' '),
         |                  t -> t IN (${TextOps.stopwords.map(w => s"'$w'").mkString(", ")}))) AS ns
         |            FROM documents)),
         |sv AS (SELECT source, CAST(count(*) AS BIGINT) AS src_docs,
         |         CAST(sum(q) // count(*) AS BIGINT) AS src_mean_q_e4
         |       FROM qd GROUP BY 1
         |       HAVING count(*) >= 10 AND sum(q) // count(*) >= 6900)
         |SELECT qd.doc_id, qd.source, sv.src_docs, sv.src_mean_q_e4
         |FROM qd JOIN sv USING (source)""".stripMargin,
    "text_bpe_merges" ->
      """WITH base AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |bg AS (SELECT array_to_string(ts[i:i+1], ' ') AS pair
        |       FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM base))
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1
        |ORDER BY cnt DESC, pair ASC LIMIT 30""".stripMargin,
    // bigram LM trained on the doc_id%10=0 slice; OOV fraction + mean ref
    // count, floor-div e4 — mirrors TextOps.lmQuality exactly
    "text_lm_quality" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |                     string_split(text, ' ') AS ts FROM documents),
        |bg AS (SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS b
        |       FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM base)),
        |ref AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM bg
        |        WHERE doc_id % 10 = 0 GROUP BY 1),
        |sc AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(sum(CASE WHEN r.b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS noov,
        |              CAST(sum(COALESCE(r.c, 0)) AS BIGINT) AS sumc
        |       FROM bg g LEFT JOIN ref r ON g.b = r.b GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |       (10000 * noov) // n_bigrams AS oov_e4,
        |       (10000 * sumc) // n_bigrams AS mean_ref_count_e4
        |FROM sc""".stripMargin,
    // same distinct-5-gram relation on both sides; eval slice = doc_id % 97 = 3;
    // flag at >= 50% containment of the eval doc's shingles
    "curate_decontaminate" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |                     string_split(text, ' ') AS ts FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+4], ' ') AS s
        |       FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 4)) AS i FROM base)),
        |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 97 = 3),
        |en AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS eval_n FROM ev GROUP BY 1),
        |cm AS (SELECT x.doc_id, e.eval_id, CAST(count(*) AS BIGINT) AS common
        |       FROM sh x JOIN ev e ON x.s = e.s GROUP BY 1, 2)
        |SELECT cm.doc_id, cm.eval_id, cm.common, en.eval_n
        |FROM cm JOIN en USING (eval_id) WHERE cm.common * 2 >= en.eval_n""".stripMargin,
    // rates embedded verbatim from Sampling.defaultRates (single source)
    "curate_sample" ->
      s"""WITH r(lang, rate_e4) AS (VALUES
         |  ${Sampling.defaultRates.map { case (l, v) => s"('$l', $v)" }.mkString(", ")}),
         |$sampleBucketCte
         |SELECT b.doc_id, b.lang, CAST(b.bucket AS BIGINT) AS bucket
         |FROM b JOIN r USING (lang) WHERE b.bucket < r.rate_e4""".stripMargin,
    "curate_sample_topk" ->
      s"""WITH $sampleBucketCte
         |SELECT doc_id, lang,
         |  CAST(row_number() OVER (PARTITION BY lang
         |         ORDER BY bucket ASC, doc_id ASC) AS BIGINT) AS rank
         |FROM b QUALIFY rank <= 40""".stripMargin,
    // full-mechanics weighted sample: the same min-of-w 60-bit draws
    // ("wsmp:doc_id:r") and the same capped length weight, pure integer —
    // the oracle restates the replication construction verbatim
    "curate_sample_weighted" ->
      s"""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         |  least(greatest(len(string_split(text, ' ')) // 20, 1), 8) AS w
         |  FROM documents),
         |k AS (SELECT doc_id, lang, CAST(w AS BIGINT) AS weight,
         |  list_min(list_transform(generate_series(1, w), r ->
         |    ${duckHash60("'wsmp:' || CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)")})) AS skey
         |  FROM b)
         |SELECT doc_id, lang, weight,
         |  CAST(row_number() OVER (PARTITION BY lang
         |         ORDER BY skey ASC, doc_id ASC) AS BIGINT) AS rank
         |FROM k QUALIFY rank <= 40""".stripMargin,
    // mixture oracle states the NAIVE definition: availability totals →
    // binding-stratum fixed-point total → per-language budgets (HUGEINT
    // intermediates mirror Spark's decimal(38,0)) → one running-prefix
    // window per language; shares embedded verbatim from
    // Sampling.defaultShares (single source)
    "curate_mixture" ->
      s"""WITH s(lang, share_e4) AS (VALUES
         |  ${Sampling.defaultShares.map { case (l, v) => s"('$l', $v)" }.mkString(", ")}),
         |b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |   ${duckHash60("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
         |   FROM documents),
         |t AS (SELECT s.lang, s.share_e4, coalesce(sum(b.n_tokens), 0) AS tt
         |      FROM s LEFT JOIN b USING (lang) GROUP BY 1, 2),
         |cap AS (SELECT min(tt::HUGEINT * 10000 // share_e4) AS total FROM t),
         |bud AS (SELECT lang, CAST(share_e4::HUGEINT *
         |          (SELECT total FROM cap) // 10000 AS BIGINT) AS budget
         |        FROM s),
         |c AS (SELECT doc_id, lang, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY lang ORDER BY bucket, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM b)
         |SELECT c.doc_id, c.lang, c.n_tokens, CAST(c.cum AS BIGINT) AS cum_tokens,
         |       bud.budget
         |FROM c JOIN bud USING (lang) WHERE c.cum <= bud.budget""".stripMargin,
    // the oracle states the NAIVE definition (per-source running-token
    // prefix over the (bucket, doc_id) order); the Spark plan's two-phase
    // bucket-histogram restatement must select the identical set
    "curate_token_budget" ->
      s"""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |             ${duckHash60("'bud:' || CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
         |           FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY source ORDER BY bucket, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM b)
         |SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
         |FROM c WHERE cum <= 600""".stripMargin,
    "text_tokens" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens
        |FROM documents""".stripMargin,
    "text_quality" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         | CAST(nt AS BIGINT) AS n_tokens,
         | CAST(floor(10000.0 * ns / nt) AS BIGINT) AS stop_ratio_e4,
         | CAST(floor(10000.0 * sl / nt) AS BIGINT) AS avg_token_len_e4,
         | CAST(floor(10000.0 * (1.0 - 1.0 * ns / nt) * least(nt, 64) / 64.0) AS BIGINT) AS quality_e4
         |FROM (SELECT doc_id,
         |        len(string_split(text, ' ')) AS nt,
         |        len(list_filter(string_split(text, ' '),
         |            t -> t IN (${TextOps.stopwords.map(w => s"'$w'").mkString(", ")}))) AS ns,
         |        CAST(list_sum(list_transform(string_split(text, ' '), t -> len(t))) AS BIGINT) AS sl
         |      FROM documents)""".stripMargin,
    // full-mechanics langId oracle: the trigram profile table is embedded
    // VERBATIM from TextOps.langProfiles (single source), the scoring is the
    // same per-occurrence weight sum + (score desc, lang asc) argmax
    "text_langid" ->
      s"""WITH ${langBestCtes("documents")}
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  coalesce(b.mlang, 'unknown') AS pred_lang,
         |  CAST(coalesce(b.score, 0) AS BIGINT) AS score,
         |  CAST(CASE WHEN coalesce(b.mlang, 'unknown') = d.lang
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_match
         |FROM documents d LEFT JOIN lb b ON d.doc_id = b.doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(text) AS md5,
        | CAST(list_sum(list_transform(string_split(text, ' '),
        |        (t, i) -> CAST(i * len(t) AS BIGINT))) % 1000000007 AS BIGINT) AS rolling
        |FROM documents""".stripMargin,
    "dedup_exact" ->
      s"""$corpusCte
         |SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keep_id,
         |  CAST(CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY text)
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_dup
         |FROM corpus""".stripMargin,
    "dedup_ngram_jaccard" -> jaccardSql(1, 5),
    "dedup_spans" -> dedupSpansSql,
    "curate_cut_spans" -> cutSpansSql,
    // the oracle states the NAIVE percentile definition (rank whole stratum,
    // v = the k-th doc's quality); the Spark plan's bounded-domain histogram
    // must pick the identical threshold
    "curate_quality_topp" ->
      s"""WITH qd AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         |        CAST(floor(10000.0 * (1.0 - 1.0 * ns / nt) * least(nt, 64) / 64.0) AS BIGINT) AS quality_e4
         |      FROM (SELECT doc_id, lang, len(string_split(text, ' ')) AS nt,
         |              len(list_filter(string_split(text, ' '),
         |                  t -> t IN (${TextOps.stopwords.map(w => s"'$w'").mkString(", ")}))) AS ns
         |            FROM documents)),
         |nn AS (SELECT lang, count(*) AS n FROM qd GROUP BY 1),
         |r AS (SELECT qd.*, row_number() OVER (PARTITION BY lang
         |        ORDER BY quality_e4 DESC, doc_id ASC) AS rk FROM qd),
         |v AS (SELECT r.lang, min(quality_e4) AS v FROM r JOIN nn USING (lang)
         |      WHERE rk <= (nn.n * 1) // 2 GROUP BY 1)
         |SELECT qd.doc_id, qd.lang, qd.quality_e4
         |FROM qd JOIN v USING (lang) WHERE qd.quality_e4 >= v.v""".stripMargin,
    "dedup_minhash_lsh" -> jaccardSql(1, 2),
    "dedup_minhash_lsh_16x2" -> minhashLsh16x2Sql,
    "dedup_simhash" -> simhashSql,
    "dedup_clusters" -> dupClustersSql,
    // same from-scratch oracle: incremental must be indistinguishable
    "dedup_incremental" -> dupClustersSql,
    "curate_corpus" -> curateSql,
    "sim_knn_join" -> knnJoinSql,
    "dedup_embedding" ->
      s"""$embCte
         |SELECT x.vec_id AS a, y.vec_id AS b
         |FROM emb x JOIN emb y ON x.vec_id < y.vec_id
         |WHERE list_dot_product(x.e, y.e) >=
         |  0.95 * sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))""".stripMargin,
    // same pair relation as dedup_embedding, then the same recursive-CTE
    // reachability construction as the text-side decision oracles
    "dedup_embedding_clusters" ->
      s"""${embCte.replaceFirst("WITH emb", "WITH RECURSIVE emb")},
         |pr AS (SELECT x.vec_id AS a, y.vec_id AS b
         |       FROM emb x JOIN emb y ON x.vec_id < y.vec_id
         |       WHERE list_dot_product(x.e, y.e) >=
         |         0.95 * sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))),
         |sym AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr),
         |nodes AS (SELECT DISTINCT x AS n FROM sym),
         |reach(s, t) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT r.s, e2.y FROM reach r JOIN sym e2 ON r.t = e2.x
         |),
         |comp AS (SELECT s AS d, min(t) AS keep FROM reach GROUP BY s)
         |SELECT em.vec_id,
         |  CAST(coalesce(comp.keep, em.vec_id) AS BIGINT) AS keep_id,
         |  CAST(CASE WHEN coalesce(comp.keep, em.vec_id) != em.vec_id
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_dup
         |FROM emb em LEFT JOIN comp ON comp.d = em.vec_id""".stripMargin,
    "sim_cosine_topk" ->
      """WITH emb AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |                    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT e AS qe FROM emb WHERE vec_id = 0)
        |SELECT vec_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
        |FROM (SELECT emb.vec_id,
        |        list_dot_product(emb.e, q.qe) /
        |          (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(q.qe, q.qe))) AS cos
        |      FROM emb, q WHERE emb.vec_id != 0)
        |QUALIFY rank <= 10""".stripMargin,
    "sim_ivf_topk" -> ivfTopKSql,
    "sim_ivf_kmeans_topk" -> ivfKmeansTopKSql,
    "sim_ivf_sq_topk" -> ivfSqTopKSql,
    "sim_ivf_pq_topk" -> ivfPqTopKSql,
    "sim_batch_topk" ->
      """WITH emb AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |                    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 5)
        |SELECT query_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
        |FROM (SELECT q.query_id, emb.vec_id,
        |        list_dot_product(emb.e, q.qe) /
        |          (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(q.qe, q.qe))) AS cos
        |      FROM emb, q WHERE emb.vec_id != q.query_id)
        |QUALIFY rank <= 5""".stripMargin,
    "q_agg_filter" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q_join_broadcast" ->
      """SELECT n_name, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "q_join_sortmerge" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    "q_semi_anti" ->
      """SELECT c_mktsegment,
        | count(*) FILTER (WHERE has_o) AS n_with_orders,
        | count(*) FILTER (WHERE NOT has_o) AS n_without_orders
        |FROM (SELECT c_mktsegment,
        |        EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
        |      FROM customer)
        |GROUP BY 1""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey,
        | CAST(row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rank,
        | o_orderkey
        |FROM orders
        |QUALIFY rank <= 3""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_setops" ->
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | UNION
        | SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_nationkey = 3""".stripMargin,
    "q_json_events" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "q_range_join" ->
      """SELECT x.user_id AS user_id, count(*) AS n_pairs
        |FROM events x JOIN events y
        |  ON x.user_id = y.user_id AND x.event_id < y.event_id
        | AND abs(epoch_ms(x.ts) - epoch_ms(y.ts)) <= 3600000
        |GROUP BY 1""".stripMargin,
    "q_date_math" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin)
}
