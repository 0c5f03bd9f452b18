package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.kg.io.SyntheticCorpus
import graft.streaming.StreamingIngest

/** The batch span-extraction lifts onto Structured Streaming unchanged:
  * stream the derived postings from parquet, window-count span kinds, and
  * reconcile with the batch answer.
  */
class StreamingSpec extends SparkTestBase {

  /** Rows `q` has read so far, summed over its progress reports. */
  private def consumed(q: StreamingQuery): Long =
    q.recentProgress.map(_.numInputRows).sum

  /** Block until `q` has read `rows` input rows in total. A bare
    * `processAllAvailable` can return before a fresh append is read: a
    * trigger whose file listing ran before the write can report "no new
    * data" after the call reset that flag, which ends its wait early.
    */
  private def awaitConsumed(q: StreamingQuery, rows: Long): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    q.processAllAvailable()
    while (consumed(q) < rows) {
      assert(System.nanoTime() < deadline,
        s"stream read ${consumed(q)} of $rows rows within 120 s")
      Thread.sleep(20)
      q.processAllAvailable()
    }
  }

  /** Append `df` to the stream's parquet source `dir` as ONE file, then
    * wait until `q` has read it. One file because the job commit moves its
    * files into `dir` one by one: a listing between two moves splits the
    * append over two micro-batches, and a document whose triples are split
    * breaks the per-batch contract of `maintainCoocEdges` (its cross-batch
    * pairs are never formed).
    */
  private def appendAndAwait(q: StreamingQuery, df: DataFrame, dir: String): Unit = {
    val target = consumed(q) + df.count()
    df.coalesce(1).write.mode("append").parquet(dir)
    awaitConsumed(q, target)
  }

  test("streamed co-occurrence maintenance == from-scratch edges") {
    import spark.implicits._
    val b1 = Seq(("D1", "m", "A"), ("D1", "m", "B"), ("D1", "m", "C"),
      ("D2", "m", "A"), ("D2", "m", "B"))
    val b2 = Seq(("D3", "m", "C"), ("D3", "m", "D"), // new edge C-D
      ("D4", "m", "A"), ("D4", "m", "B")) // duplicate A-B: anti-joined away
    val srcDir = Files.createTempDirectory("stream-cooc-src").toString
    val edgeDir = Files.createTempDirectory("stream-cooc-edges").toString + "/t"
    b1.toDF("subj", "pred", "obj").write.mode("append").parquet(srcDir)
    val q = StreamingIngest.maintainCoocEdges(
      spark.readStream.schema("subj string, pred string, obj string")
        .parquet(srcDir), edgeDir)
    try {
      awaitConsumed(q, b1.size)
      appendAndAwait(q, b2.toDF("subj", "pred", "obj"), srcDir)
    } finally q.stop()
    val folded = spark.read.parquet(edgeDir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val scratch = graft.kg.graph.GraphOps.halfCoocEdges(
      (b1 ++ b2).toDF("subj", "pred", "obj")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // identical relation AND no duplicate rows (the anti-join held)
    assert(folded.sorted.toSeq === scratch.sorted.toSeq)
  }

  test("streamed property-table maintenance == from-scratch pivot, cross-batch subjects") {
    import spark.implicits._
    // D1's triples deliberately SPAN the two micro-batches — the increment
    // must re-read its committed triples, not just the batch
    val b1 = Seq(("D1", "hasTitle", "T1"), ("D2", "hasTitle", "T2"),
      ("D2", "requiresSkill", "Java"))
    val b2 = Seq(("D1", "requiresSkill", "Scala"), ("D1", "locatedIn", "L1"),
      ("D3", "hasTitle", "T3"))
    val srcDir = Files.createTempDirectory("stream-prop-src").toString
    val wideDir = Files.createTempDirectory("stream-prop-wide").toString + "/t"
    val triplesDir = Files.createTempDirectory("stream-prop-triples").toString + "/t"
    b1.toDF("subj", "pred", "obj").write.mode("append").parquet(srcDir)
    val q = StreamingIngest.maintainPropertyTable(
      spark.readStream.schema("subj string, pred string, obj string")
        .parquet(srcDir), wideDir, triplesDir)
    try {
      awaitConsumed(q, b1.size)
      appendAndAwait(q, b2.toDF("subj", "pred", "obj"), srcDir)
    } finally q.stop()
    val folded = spark.read.parquet(wideDir).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)),
        Option(r.getString(3)), r.getString(6))).toSet
    val scratch = graft.kg.query.TripleStore.propertyTable(
      (b1 ++ b2).toDF("subj", "pred", "obj")).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)),
        Option(r.getString(3)), r.getString(6))).toSet
    assert(folded === scratch)
    // and specifically: D1's wide row merged triples from BOTH batches
    val d1 = spark.read.parquet(wideDir).where(col("subj") === "D1").collect()(0)
    assert(d1.getString(1) === "T1" && d1.getString(3) === "L1" &&
      d1.getString(6) === "Scala")
  }

  test("streamed span-kind counts reconcile with batch") {
    val dir = Files.createTempDirectory("graft-stream-in").toString
    val postings = SyntheticCorpus.postings(spark, "/root/testdata/sf0.001")
      .withColumn("ingest_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    postings.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val q = StreamingIngest.runOnParquetDir(spark, dir, schema, "span_counts")
    try q.processAllAvailable() finally q.stop()

    // update-mode sink: one row per (window, kind) per micro-batch in which
    // the count changed; latest value = max (counts are monotone)
    val streamed = spark.table("span_counts")
      .groupBy("win_start", "kind").agg(max("n").as("n"))
      .groupBy("kind").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = postings.select(explode(col("spans")).as("s"))
      .groupBy(col("s.kind")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("stateful first-seen dedup emits each doc exactly once across batches") {
    val dir = Files.createTempDirectory("graft-stream-dedup").toString
    val postings = SyntheticCorpus.postings(spark, "/root/testdata/sf0.001")
    val batch1 = postings.where(col("doc_id").cast("long") < 300)
    batch1.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val q = StreamingIngest.runFirstSeen(spark, dir, schema, "first_seen")
    try {
      awaitConsumed(q, batch1.count())
      // second chunk overlaps the first (docs 200-299 re-shipped)
      appendAndAwait(q, postings.where(col("doc_id").cast("long") >= 200), dir)
    } finally q.stop()

    val emitted = spark.table("first_seen").collect().map(_.getString(0))
    assert(emitted.length == 500, s"expected 500 unique docs, got ${emitted.length}")
    assert(emitted.toSet.size == 500, "a doc_id was emitted more than once")
  }

  test("TTL-bounded first-seen state: expired keys are evicted and re-arrivals re-emit") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-stream-ttl").toString
    def ts(minutes: Int) =
      new java.sql.Timestamp(java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
        + minutes * 60000L)
    def rows(rs: (String, Int)*): DataFrame =
      rs.map { case (id, m) => (id, ts(m)) }.toDF("doc_id", "ingest_ts")
    rows(("A", 0), ("B", 0)).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    // ttl = 30 min, watermark delay = 10 min
    val q = StreamingIngest.runFirstSeenTtl(spark, dir, schema, "first_seen_ttl",
      ttlMs = 30 * 60000L)
    try {
      awaitConsumed(q, 2)                        // b1: A, B emitted
      appendAndAwait(q, rows(("A", 1), ("C", 60)), dir)
      // b2: A re-shipped INSIDE the ttl -> suppressed; C emitted; the
      // watermark now derives from t=60
      appendAndAwait(q, rows(("D", 61)), dir)
      // b3: watermark (60 - 10 = 50 min) has passed A/B's timeout
      // (1 + 30 = 31 min) -> their state is removed this batch; D emitted
      appendAndAwait(q, rows(("A", 62)), dir)
      // b4: A's state is GONE -> re-emitted
    } finally q.stop()
    val emitted = spark.table("first_seen_ttl").collect().map(_.getString(0)).toSeq
    assert(emitted.sorted == Seq("A", "A", "B", "C", "D"),
      s"expected A,B,C,D + one post-TTL re-emission of A, got $emitted")
  }
}
