package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. The base documents table has the shape of the pipeline's
  * harness `documents` table (doc_id, text: 10 to 100 tokens drawn uniformly
  * from a 31-word vocabulary) and is the same for every seed; the workload
  * seed then changes only what each workload derives from it (doc-id offset,
  * dedup tag salt, shard choice, query constants), so every seed does the
  * same amount of work.
  */
object Inputs {

  val Vocabulary: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  /** Writes `n` base documents as `<dir>/documents.parquet` and returns
    * `dir`, the layout the program's corpus generators read.
    */
  def writeDocuments(spark: SparkSession, dir: String, n: Int): String = {
    val vocab = typedLit(Vocabulary)
    val nTok = lit(10) + pmod(xxhash64(col("doc_id"), lit(-1)), lit(91L)).cast("int")
    spark.range(n).select(col("id").as("doc_id"))
      .select(col("doc_id"), array_join(transform(sequence(lit(1), nTok), i =>
        element_at(vocab, pmod(xxhash64(col("doc_id"), i), lit(Vocabulary.size.toLong))
          .cast("int") + 1)), " ").as("text"))
      .coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** Doc-id offset: shifts every doc_id, which changes each doc's
    * doc_id-derived KG enrichment (title, workload, skills, location).
    */
  def docOffset(seed: Long): Long = Math.floorMod(seed, 10007L) * 1000003L

  /** Salt appended to every family, near-dup and unique tag token of the
    * dedup stress corpus: the same duplicate structure under other shingle
    * hashes, so other LSH buckets.
    */
  def tagSalt(seed: Long): String = java.lang.Long.toString(Math.floorMod(seed * 2654435761L, 1L << 30), 36)

  def salted(corpus: DataFrame, salt: String): DataFrame =
    corpus.withColumn("text", array_join(transform(split(col("text"), " "), t =>
      when(t.rlike("^(f[0-9]+x|nd|u[0-9]+x)[0-9]+$"), concat(t, lit("s" + salt))).otherwise(t)),
      " "))
}
