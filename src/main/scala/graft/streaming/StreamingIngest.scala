package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Structured Streaming ingestion path.
  *
  * The north rule (BASELINE.json:14) is a BATCH pipeline with
  * checkpoint-resume — resume is the anti-join in graft.kg.emit.TableIO, not
  * streaming state (SURVEY.md §2.2) — so streaming is deliberately NOT on the
  * KG critical path. This module exists because a corpus at 10^12 docs is
  * appended continuously in practice: the same span-exploding extraction
  * lifts onto a `readStream` source unchanged, which this demo (and its
  * spec) proves with a windowed per-kind count over the interleaved spans.
  */
object StreamingIngest {

  /** Watermarked, windowed span-kind counts over a stream of postings rows
    * paired with an event-time column.
    * Input schema: postings schema + ingest_ts timestamp.
    */
  def spanKindCounts(postings: DataFrame): DataFrame =
    postings
      .select(col("ingest_ts"), explode(col("spans")).as("s"))
      .withWatermark("ingest_ts", "10 minutes")
      .groupBy(window(col("ingest_ts"), "5 minutes"), col("s.kind").as("kind"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("kind"), col("n"))

  /** Stateful streaming ingest dedup: emit each doc_id the FIRST time it is
    * seen across micro-batches (appended corpus chunks routinely re-ship
    * documents; state = one boolean per key). This is the custom-state
    * surface (`KeyValueGroupedDataset.flatMapGroupsWithState`) the streaming
    * checklist asks for — the KG batch path itself stays anti-join resume
    * per BASELINE.json:14. This unbounded variant is the demo shape; the
    * scale path is [[firstSeenDocsTtl]] (event-time TTL eviction, bounded
    * state envelope), keyed at deployment by the content hash of
    * [[graft.ops.Dedup.exact]] instead of the raw id.
    */
  def firstSeenDocs(postings: DataFrame): Dataset[String] = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings.select(col("doc_id")).as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: String, _: Iterator[String], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(id) }
      }
  }

  /** [[firstSeenDocs]] with BOUNDED state: per-key TTL via event-time
    * timeout. At a 10^12-key domain, unbounded first-seen state is a
    * non-starter (~10^12 × (key + overhead) ≈ tens of TB of state store);
    * with a TTL the state envelope is (keys arriving per TTL window) ×
    * ~(key bytes + timestamp) — the re-ship window of a real ingest feed is
    * hours-to-days, not forever, so the TTL trades exactly the
    * already-negligible "re-ship after the window" dups for a bounded store
    * (and the downstream batch dedup catches stragglers anyway).
    *
    * Mechanics: watermark on ingest_ts; each key's timeout is re-armed at
    * maxEventTime + ttl on every arrival; when the watermark passes it,
    * Spark invokes the function with hasTimedOut=true (no data) and the
    * state is REMOVED — a later re-arrival of the key is emitted again
    * (StreamingSpec pins both the eviction and the re-emission).
    */
  def firstSeenDocsTtl(postings: DataFrame, ttlMs: Long,
      watermarkDelay: String = "10 minutes"): Dataset[String] = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings.select(col("doc_id"), col("ingest_ts"))
      .withWatermark("ingest_ts", watermarkDelay)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (id: String, rows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val maxTs = rows.map(_._2.getTime).max
            val first = !state.exists
            state.update(true)
            state.setTimeoutTimestamp(maxTs + ttlMs)
            if (first) Iterator.single(id) else Iterator.empty
          }
      }
  }

  /** CONTINUOUS co-occurrence graph maintenance: fold each micro-batch of
    * doc→entity triples into a committed half-edge parquet table through
    * the BATCH incremental operator
    * ([[graft.kg.graph.GraphOps.incrementalCoocEdges]]: shard-local pair
    * derivation + ONE anti-join against stored state) via `foreachBatch` —
    * the standard Structured-Streaming shape for "stream drives an
    * idempotent batch increment". Reusing the batch operator is the point:
    * stream-maintained and daily-batch-maintained edge tables can never
    * diverge (StreamingSpec pins stream-folded ≡ from-scratch). Contract
    * (same as the daily-shard path): a document's triples arrive within
    * one micro-batch — co-occurrence is per-doc, so a doc split across
    * batches would miss its cross-batch pairs.
    */
  def maintainCoocEdges(triples: DataFrame, edgeDir: String): StreamingQuery = {
    triples.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val stored =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(edgeDir)))
            spark.read.parquet(edgeDir)
          else spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(Seq(
              org.apache.spark.sql.types.StructField("x",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("y",
                org.apache.spark.sql.types.StringType))))
        graft.kg.graph.GraphOps.incrementalCoocEdges(stored, batch)
          .write.mode("append").parquet(edgeDir)
        ()
      }
      .start()
  }

  /** CONTINUOUS maintenance of the property-table materialized view —
    * [[graft.kg.query.TripleStore.propertyTableIncrement]] driven by
    * `foreachBatch` (the [[maintainCoocEdges]] discipline: the stream
    * reuses the BATCH incremental operator, so stream-maintained and
    * daily-batch-maintained views can never diverge; StreamingSpec pins
    * stream-folded ≡ from-scratch). Per micro-batch: touched subjects are
    * re-aggregated from one semi probe of the committed triples + the
    * batch; untouched wide rows pass through. UNLIKE co-occurrence there
    * is NO single-batch arrival contract — a subject's triples may span
    * micro-batches, the increment re-reads its committed triples.
    *
    * The new view is pinned (eager checkpoint) before overwriting its own
    * input directory. At production scale the overwrite is an Iceberg
    * MERGE (upsert of the rebuilt rows only — the pass-through rows never
    * move); parquet-without-Iceberg makes the compute incremental and the
    * IO a rewrite, stated per the TableIO substitution note.
    */
  def maintainPropertyTable(triples: DataFrame, wideDir: String,
      triplesDir: String): StreamingQuery = {
    triples.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        def existing(dir: String): Option[DataFrame] =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
            Some(spark.read.parquet(dir))
          else None
        val storedTriples = existing(triplesDir).getOrElse(batch.limit(0))
        val storedWide = existing(wideDir).getOrElse(
          graft.kg.query.TripleStore.propertyTable(batch.limit(0)))
        val next = graft.Pin(
          graft.kg.query.TripleStore.propertyTableIncrement(
            storedWide, storedTriples, batch))
        next.write.mode("overwrite").parquet(wideDir)
        batch.write.mode("append").parquet(triplesDir)
        ()
      }
      .start()
  }

  /** Drive [[firstSeenDocsTtl]] over a parquet dir stream into a memory
    * sink.
    */
  def runFirstSeenTtl(spark: SparkSession, dir: String, schema: StructType,
      name: String, ttlMs: Long): StreamingQuery =
    firstSeenDocsTtl(spark.readStream.schema(schema).parquet(dir), ttlMs)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()

  /** Drive [[firstSeenDocs]] over a parquet dir stream into a memory sink. */
  def runFirstSeen(
      spark: SparkSession, dir: String, schema: StructType, name: String): StreamingQuery =
    firstSeenDocs(spark.readStream.schema(schema).parquet(dir))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()

  /** Drive a parquet directory as a stream into an in-memory sink; returns
    * the query (caller: processAllAvailable() then read table `name`).
    * Output mode is `update` — the mode in which the watermark above actually
    * BOUNDS state (closed windows are dropped once the watermark passes);
    * `complete` mode would keep every window forever and grow without bound
    * on a long-running stream. The sink receives one row per
    * (window, kind) per micro-batch in which its count changed; readers take
    * the latest (= max, counts are monotone) row per key.
    */
  def runOnParquetDir(
      spark: SparkSession, dir: String, schema: StructType, name: String): StreamingQuery =
    spanKindCounts(spark.readStream.schema(schema).parquet(dir))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .start()
}
