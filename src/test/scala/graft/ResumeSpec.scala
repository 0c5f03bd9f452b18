package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.kg.Pipeline
import graft.kg.emit.{Metrics, TableIO}
import graft.kg.io.SyntheticCorpus

/** SURVEY.md §5.7 — resume exactly-once: kill after partition k commits →
  * rerun → output identical to an uninterrupted run.
  */
class ResumeSpec extends SparkTestBase {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def triples() = Pipeline.allTriples(
    SyntheticCorpus.postings(spark, "/root/testdata/sf0.001"),
    Pipeline.defaultGazetteers(spark))

  private def readSet(root: String): Set[(String, String, String)] =
    TableIO.readTriples(spark, root)
      .select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("interrupted run + resume == uninterrupted run, exactly once") {
    val full = tmpDir("full")
    val resumed = tmpDir("resumed")
    val t = triples().cache()

    val m1 = TableIO.writeTriplesDeduped(spark, t, full, inputLineage = "sf0.001")
    assert(m1.nonEmpty)

    // "crash" mid-run: only two predicates' partitions got committed...
    TableIO.writeTriplesDeduped(spark,
      t.where(col("pred").isin("hasTitle", "requiresSkill")), resumed)
    // ...plus an uncommitted leftover partition dir (data written, manifest
    // not) that the resume must drop, not double-append
    val leftover = Paths.get(resumed, "pred=hasWorkload", "bucket=0")
    Files.createDirectories(leftover)
    t.where(col("pred") === "hasWorkload").limit(5)
      .withColumn("bucket", lit(0)).drop("pred", "bucket")
      .write.mode("overwrite").parquet(leftover.toString)

    val committedBefore = TableIO.committed(resumed).size
    // resume with the FULL triple set
    val m2 = TableIO.writeTriplesDeduped(spark, t, resumed, inputLineage = "sf0.001")
    assert(m2.nonEmpty)
    assert(TableIO.committed(resumed).size > committedBefore)

    assert(readSet(resumed) == readSet(full), "resumed output differs from full run")

    // exactly-once: total committed rows equal the deduped triple count
    val totalRows = TableIO.committed(resumed).size
    assert(TableIO.readTriples(spark, resumed).count() == t.count())

    // second resume is a no-op (nothing pending)
    val m3 = TableIO.writeTriplesDeduped(spark, t, resumed)
    assert(m3.isEmpty)
    assert(readSet(resumed) == readSet(full))
    t.unpersist()
  }

  test("resume never re-reads committed partitions (stats scan partition-pruned)") {
    import scala.jdk.CollectionConverters._
    val root = tmpDir("prune")
    val t = triples().cache()
    // run 1: commit only hasTitle
    val m1 = TableIO.writeTriplesDeduped(spark, t.where(col("pred") === "hasTitle"), root)
    assert(m1.nonEmpty && m1.forall(_.pred == "hasTitle"))
    // corrupt EVERY committed data file: any read touching them now throws,
    // so a successful resume run proves its stats scan pruned them away
    val corrupted = Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.toString.contains("pred=hasTitle") &&
        p.getFileName.toString.endsWith(".parquet"))
      .map { f => Files.write(f, "garbage".getBytes); f }
      .toList
    assert(corrupted.nonEmpty)
    // resume with the full triple set — writes + stats only the fresh preds
    val m2 = TableIO.writeTriplesDeduped(spark, t, root, inputLineage = "resume \"quoted\"")
    assert(m2.nonEmpty)
    assert(m2.forall(_.pred != "hasTitle"), "resume re-manifested a committed partition")
    // lineage with quotes is escaped into valid JSON
    assert(m2.head.json.contains("resume \\\"quoted\\\""))
    // sanity: the corruption is real — a full stats read over all committed
    // partitions (what the old implementation did) fails
    intercept[Throwable] {
      TableIO.partitionStats(spark, root,
        TableIO.committed(root).toSeq).collect()
    }
    t.unpersist()
  }

  test("fused dedup write == aggregate-then-write (bit-identical table)") {
    val postings = SyntheticCorpus.postings(spark, "/root/testdata/sf0.001")
    val gaz = Pipeline.defaultGazetteers(spark)
    val a = tmpDir("fused")
    val b = tmpDir("twostep")
    TableIO.writeTriplesDeduped(spark, Pipeline.allTriplesRaw(postings, gaz), a)
    TableIO.writeTriplesDeduped(spark, Pipeline.allTriples(postings, gaz), b)
    def full(root: String) = TableIO.readTriples(spark, root)
      .select("subj", "pred", "obj", "score", "src_offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3), r.getInt(4)))
      .toSet
    assert(full(a) == full(b))
    // the layout exchange puts each (pred, bucket) key in one partition:
    // one data file per partition dir on both write paths
    import scala.jdk.CollectionConverters._
    for (root <- Seq(a, b)) {
      val dirs = Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("bucket="))
        .toList
      assert(dirs.nonEmpty)
      for (d <- dirs) {
        val files = Files.list(d).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
        assert(files == 1, s"$d holds $files parquet files")
      }
    }
  }

  test("manifests carry lineage and row counts that match the data") {
    val root = tmpDir("manifest")
    val t = triples()
    val ms = TableIO.writeTriplesDeduped(spark, t, root, inputLineage = "sf0.001/documents")
    val byPartition = TableIO.readTriples(spark, root)
      .groupBy(col("pred"), col("bucket")).count().collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    assert(ms.map(m => ((m.pred, m.bucket), m.rows)).toMap == byPartition)
    assert(ms.forall(_.inputLineage == "sf0.001/documents"))
    assert(ms.map(_.json).forall(_.contains("parquet-iceberg-shaped")))
  }

  test("observe metrics ride the job") {
    val rec = Metrics.attach(spark)
    val observed = Metrics.observeRows(triples(), "triples_out")
    val n = observed.count()
    // the QueryExecutionListener bus is asynchronous — poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while (rec.rows("triples_out").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(rec.rows("triples_out").contains(n))
  }
}
