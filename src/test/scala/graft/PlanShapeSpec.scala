package graft

/** SURVEY.md §5.5 — plan-shape assertions: gazetteer joins broadcast, the
  * similarity join never degenerates to a cartesian product, the salted
  * variant actually takes the shuffle path, and parquet pushdown/pruning
  * reach the scan.
  */
class PlanShapeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("gazetteer mention join is BroadcastHashJoin") {
    val p = plan("kg_skills")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("fuzzy title linking: blocked equi-join, no cartesian/nested-loop") {
    val p = plan("kg_title")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("whole pipeline has no cartesian products") {
    val p = plan("kg_all_triples")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("blocked embedding dedup is equi-join shaped: no nested-loop, no cartesian") {
    val p = plan("dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "dedup_embedding degenerated to an all-pairs nested loop")
    assert(!p.contains("CartesianProduct"))
  }

  test("levenshtein title linking: blocked equi-join, no cartesian/nested-loop") {
    val p = plan("kg_title_lev")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF probe: the index scan carries a cell_id partition filter") {
    val p = plan("sim_ivf_topk")
    val idxScan = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("graft-ivf-index"))
      .mkString("\n")
    assert(idxScan.contains("PartitionFilters: [cell_id"),
      s"probe scan not partition-pruned:\n$idxScan")
  }

  test("compressed-index probes: codes-only pruned scans (no raw embeddings read)") {
    for ((name, dirTag) <- Seq("sim_ivf_sq_topk" -> "graft-ivf-sq-index",
                               "sim_ivf_pq_topk" -> "graft-ivf-pq-index")) {
      val p = plan(name)
      val idxScan = p.linesIterator
        .filter(l => l.contains("FileScan parquet") && l.contains(dirTag))
        .mkString("\n")
      assert(idxScan.contains("PartitionFilters: [cell_id"),
        s"$name probe scan not partition-pruned:\n$idxScan")
      // the per-vector payload the probe reads is the CODES, never the
      // raw embedding column — the point of the compressed index
      assert(idxScan.contains("code") && !idxScan.contains("emb,") &&
        !idxScan.contains("ReadSchema: struct<vec_id:bigint,emb"),
        s"$name probe scan reads more than codes:\n$idxScan")
    }
  }

  test("fused dedup write: the dedup agg reuses the layout shuffle (one fewer exchange)") {
    import org.apache.spark.sql.functions.col
    val postings = graft.kg.io.SyntheticCorpus.postings(spark, sf)
    val gaz = graft.kg.Pipeline.defaultGazetteers(spark)
    val raw = graft.kg.Pipeline.allTriplesRaw(postings, gaz)
    val root = java.nio.file.Files.createTempDirectory("graft-fused-plan").toString
    def nShuffles(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
    val fused = nShuffles(graft.kg.emit.TableIO.dedupedPending(spark, raw, root))
    val twoStep = nShuffles(
      graft.kg.Pipeline.dedupTriples(raw)
        .withColumn("bucket", graft.kg.emit.TableIO.bucketCol(16))
        .repartition(col("pred"), col("bucket")))
    assert(fused == twoStep - 1,
      s"fused plan has $fused shuffles, two-step has $twoStep — expected exactly one saved")
  }

  test("candidate explode compiles: its Generate sits in whole-stage codegen, no lambda") {
    val gaz = graft.kg.Pipeline.defaultGazetteers(spark)
    val spans = graft.kg.extract.Extractors.textSpans(graft.kg.io.SyntheticCorpus.postings(spark, sf))
    val df = graft.kg.extract.Extractors
      .candidates(spans, gaz.prep.mentionTwoGramKinds, gaz.mentionDims.map(_._1))
    df.collect() // the final (adaptive) plan carries the codegen stage ids
    val p = df.queryExecution.executedPlan.toString
    val gen = p.linesIterator.filter(_.contains("Generate explode(concat(")).toSeq
    assert(gen.size == 1, s"candidate Generate not found:\n${p.take(3000)}")
    // `*(n) Generate` = inside WholeStageCodegen stage n; a CodegenFallback
    // child (a lambda) renders it without the marker
    assert(gen.head.matches(".*\\*\\(\\d+\\) Generate explode\\(concat\\(.*"),
      s"candidate Generate runs interpreted:\n${gen.head.take(300)}")
    // the candidates' own operators: everything above the span explode (the
    // synthetic corpus below it is built with lambdas of its own)
    val own = p.linesIterator.takeWhile(!_.contains("Generate explode(spans")).mkString("\n")
    assert(!own.toLowerCase.contains("lambdafunction"), s"lambda in the plan:\n${own.take(3000)}")
  }

  test("decision base compiles: its shingle-set projection sits in whole-stage codegen, no lambda") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val df = graft.ops.Dedup.decisionBase(docs)
    df.collect() // the final (adaptive) plan carries the codegen stage ids
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val proj = p.linesIterator.filter(_.contains("token_grams(")).toSeq
    assert(proj.size == 1, s"shingle-set projection not found:\n${p.take(3000)}")
    // `*(n) Project` = inside WholeStageCodegen stage n
    assert(proj.head.matches(".*\\*\\(\\d+\\) Project .*"),
      s"shingle-set projection runs interpreted:\n${proj.head.take(300)}")
    assert(!p.toLowerCase.contains("lambdafunction"), s"lambda in the plan:\n${p.take(3000)}")
  }

  test("fused dedup write runs on more than one task: the layout exchange is not coalesced") {
    val postings = graft.kg.io.SyntheticCorpus.postings(spark, sf)
    // pinned input: the only stage that reads a shuffle is the write stage
    val raw = Pin(graft.kg.Pipeline.allTriplesRaw(postings, graft.kg.Pipeline.defaultGazetteers(spark)))
    val root = java.nio.file.Files.createTempDirectory("graft-write-tasks").toString
    val (_, rec) = JobRecord(spark)(graft.kg.emit.TableIO.dedupedPending(spark, raw, root)
      .write.mode("append").partitionBy("pred", "bucket").parquet(root))
    val tasks = rec.stages.filter(_.parentIds.nonEmpty).map(_.numTasks)
    assert(tasks.size == 1 && tasks.head > 1,
      s"write stage task counts: $tasks (one coalesced task writes every file)")
  }

  test("kg_build's path starts at most 32 jobs at sf0.001") {
    // the kg_build operation: raw triples -> fused dedup write with
    // manifests -> CC canonicalization. 29 jobs in each of 24 runs; AQE
    // moves other operators' job counts from run to run, hence the slack.
    val postings = graft.kg.io.SyntheticCorpus.materializedPostings(spark, sf)
    val gaz = graft.kg.Pipeline.defaultGazetteers(spark)
    gaz.prep // the prep pass is setup, once per gazetteer set
    val root = java.nio.file.Files.createTempDirectory("graft-kg-jobs").toString
    val (_, rec) = JobRecord(spark) {
      graft.kg.emit.TableIO.writeTriplesDeduped(spark,
        graft.kg.Pipeline.allTriplesRaw(postings, gaz), root)
      graft.kg.Pipeline.canonicalSurfaces(
        graft.kg.extract.Extractors.textSpans(postings), gaz.titles).collect()
    }
    info(s"kg_build: ${rec.jobs} jobs")
    assert(rec.jobs <= 32, s"kg_build started ${rec.jobs} jobs")
  }

  test("dedup shingle relation is computed once and SHARED by all consumers") {
    // each pair operator's multiply-consumed relation (shingles for
    // minhash/ngram, simhash signatures) is pinned once (graft.Pin — see
    // there for why ReuseExchange alone was measured insufficient), at
    // every input size, and every consumer must scan the SAME checkpointed
    // RDD: the plan shows multiple ExistingRDD scans and ZERO re-derivations
    // of the relation (its derivation marker appears nowhere in the plan;
    // the band-key Generate is a different, legitimate explode). The
    // shingle marker is the gram kernel's plan name, `token_grams(`.
    for ((query, marker) <- Seq(
        "dedup_minhash_lsh" -> "token_grams(",
        "dedup_ngram_jaccard" -> "token_grams(",
        "dedup_simhash" -> "md5(")) {
      spark.sharedState.cacheManager.clearCache()
      val df = SparkEntry.queries(query)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val rddScans = p.linesIterator.count(_.contains("Scan ExistingRDD"))
      assert(rddScans >= 2,
        s"$query: expected the pinned relation to be scanned by multiple consumers, got $rddScans:\n${p.take(4000)}")
      assert(!p.contains(marker),
        s"$query: derivation ($marker) must not be recomputed downstream of the pin")
    }
  }

  test("dedup decision action reads only the pinned collapse and the components") {
    val corpus = graft.ops.Dedup.derivedCorpus(spark.read.parquet(s"$sf/documents.parquet"))
    // dupClusters runs the CC materialization while it builds the frame it
    // returns; collecting that frame is the decision action
    val df = graft.ops.Dedup.dupClusters(corpus, bands = 16, rows = 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    for (rederived <- Seq("Scan parquet", "sha2(", "slice(split(", "token_grams("))
      assert(!p.contains(rederived),
        s"decision action re-derives the collapse or shingles ($rederived):\n${p.take(4000)}")
  }

  test("batch top-k plans as two windows: per-(query,salt) pre-top-k then final") {
    val p = plan("sim_batch_topk")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 2, s"expected the two-level ranking (2 Window nodes), plan:\n$p")
    assert(p.contains("salt"), "first window must partition by (query_id, salt)")
  }

  test("knn join: blocked equi-join + two-level ranking, no cartesian") {
    val p = plan("sim_knn_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "sim_knn_join degenerated to an all-pairs nested loop")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 2, s"expected the two-level ranking (2 Window nodes), plan:\n$p")
  }

  test("link prediction: wedge enumeration stays equi-join, anti-join drops edges") {
    val p = plan("kg_link_prediction")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "2-hop wedge enumeration degenerated to an all-pairs nested loop")
    assert(p.contains("LeftAnti"), "existing-edge filter must be an anti join")
  }

  test("chain BGP: the ontology hop is broadcast, no cartesian") {
    val p = plan("kg_chain_query")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      "the metadata-sized is_a hop should broadcast")
  }

  test("entailment: single-pass shape — the ancestor explode sits ABOVE every union") {
    val p = plan("kg_entailed_triples")
    assert(p.contains("BroadcastHashJoin"),
      s"ancestor-array join should broadcast:\n${p.take(1500)}")
    // the old `t ∪ (t ⋈ closure)` formulation planned the extraction
    // subtree once per union branch, with a Union ABOVE the closure join;
    // the single-pass shape has the entail explode above ALL unions (the
    // only unions left are the ones INSIDE the one triple derivation).
    // Assert on the optimized logical plan — the AQE physical string
    // duplicates subtrees and defeats positional checks.
    val lp = SparkEntry.queries("kg_entailed_triples")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val explodeAt = lp.indexOf("explode(concat")
    val unionAt = lp.indexOf("Union")
    assert(explodeAt >= 0, s"entail explode missing:\n${lp.take(1500)}")
    assert(unionAt < 0 || explodeAt < unionAt,
      s"a Union sits above the entail explode (double derivation):\n${lp.take(1500)}")
  }

  test("salted skill join takes the shuffle (non-broadcast) path") {
    val p = plan("kg_skills_salted")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("parquet scan: column pruning reaches the documents scan") {
    val df = SparkEntry.queries("kg_media_meta")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan parquet")).mkString("\n")
    assert(scan.contains("doc_id") && scan.contains("text"))
    assert(!scan.contains("lang"), s"unused columns not pruned: $scan")
  }
}
