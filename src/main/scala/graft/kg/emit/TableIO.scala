package graft.kg.emit

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, LinkOption, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-shaped table IO over partitioned Parquet (BASELINE.json:14 targets
  * Iceberg; this sandbox ships no Iceberg runtime jar — SURVEY.md §1.3 — so
  * the layout substitutes: partition columns on disk + a per-partition
  * lineage/metrics manifest playing the role of Iceberg's manifest files.
  * State this substitution next to any reported number.)
  *
  * Layout for the `triples` table:
  * {{{
  *   <root>/pred=<p>/bucket=<b>/part-....parquet   data, hash-bucketed by subj
  *   <root>/_manifests/<p>_<b>.json              commit record (atomic rename)
  * }}}
  *
  * A partition is COMMITTED iff its manifest exists; manifests are written
  * after the data (temp file + atomic move), so a crash between data and
  * manifest leaves an uncommitted partition that a resume run simply
  * rewrites — exactly-once per partition (SURVEY.md §7.4.5).
  *
  * Resume = `left_anti` join of new triples against the committed (pred,
  * bucket) set — no Structured Streaming state, per SURVEY.md §2.2.
  */
object TableIO {

  val BucketsDefault = 16

  /** Fixed on-disk schema of the triples table (never inferred — SURVEY.md
    * §1.2; also: reads never touch a data-file footer at planning time, so
    * partition-pruned reads provably skip other partitions' files).
    * pred/bucket are the partition columns (trailing, from dir names).
    */
  val tableSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("subj", StringType, nullable = false),
      StructField("obj", StringType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("src_offset", IntegerType, nullable = false),
      StructField("pred", StringType, nullable = false),
      StructField("bucket", IntegerType, nullable = false)))
  }

  /** Deterministic bucket column for (pred-partitioned, subj-bucketed) output. */
  def bucketCol(buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("subj")), lit(buckets)).cast("int")

  private def manifestDir(root: String): Path = Paths.get(root, "_manifests")

  /** Committed (pred, bucket) pairs from existing manifests. */
  def committed(root: String): Seq[(String, Int)] =
    entries(manifestDir(root))
      .map(_.getFileName.toString)
      .filter(_.endsWith(".json"))
      .map { n =>
        val stem = n.stripSuffix(".json")
        val i = stem.lastIndexOf('_')
        (stem.substring(0, i), stem.substring(i + 1).toInt)
      }

  /** The entries of directory `dir` (none if it is absent). The listing's
    * stream holds an open directory descriptor, so it is closed here, not
    * left to the garbage collector.
    */
  private def entries(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** Drop triples belonging to already-committed partitions (resume filter). */
  def resumeFilter(spark: SparkSession, triples: DataFrame, root: String,
      buckets: Int = BucketsDefault): DataFrame = {
    val done = committed(root)
    if (done.isEmpty) triples.withColumn("bucket", bucketCol(buckets))
    else {
      import spark.implicits._
      val doneDf = done.toDF("pred_done", "bucket_done")
      triples.withColumn("bucket", bucketCol(buckets))
        .join(broadcast(doneDf),
          col("pred") === col("pred_done") && col("bucket") === col("bucket_done"),
          "left_anti")
    }
  }

  /** (pred, bucket) partition dirs present on disk — committed or not.
    * Filesystem metadata only (never reads data files).
    */
  private def dataPartitions(root: String): Seq[(String, Int)] =
    entries(Paths.get(root))
      .filter(_.getFileName.toString.startsWith("pred="))
      .flatMap { predDir =>
        val pred = predDir.getFileName.toString.stripPrefix("pred=")
        entries(predDir)
          .filter(_.getFileName.toString.startsWith("bucket="))
          .map(b => (pred, b.getFileName.toString.stripPrefix("bucket=").toInt))
      }

  private def dropUncommitted(root: String): Unit = {
    val done = committed(root).toSet
    dataPartitions(root).filterNot(done).foreach { case (pred, bucket) =>
      deleteTree(s"$root/pred=$pred/bucket=$bucket")
    }
  }

  /** Recursive delete of `root` (a no-op if it is absent): the cleanup of
    * uncommitted partitions, compacted dedup state and bench output. The
    * walk does not follow symbolic links, and its stream is closed.
    */
  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** The write layout: hash-distribute by (pred, bucket), so each partition
    * dir gets exactly one output file (this keeps the file count bounded at
    * high bucket counts; at cluster scale raise buckets, not files/bucket).
    * The explicit partition count is the repo's rule for exchanges AQE must
    * not coalesce: an expression-only repartition of a small triple relation
    * becomes ONE partition, and one task then aggregates and writes every
    * file while the other task threads idle.
    */
  private def layout(df: DataFrame): DataFrame = {
    val np = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    df.repartition(np, col("pred"), col("bucket"))
  }

  /** Write (or resume-write) the triples table from PRE-AGGREGATION triple
    * rows, deduplicated on (subj, pred, obj) as `Pipeline.dedupTriples` does
    * (on rows that are already unique the aggregation is the identity).
    * Returns per-partition metrics of THIS run's newly committed partitions.
    * Fused dedup + layout: because `bucket` is a pure function of `subj`,
    * hash-distributing by (pred, bucket) already co-locates every (subj,
    * pred, obj) group, so the dedup aggregation after the [[layout]]
    * exchange needs NO second exchange (HashPartitioning(pred, bucket)
    * satisfies the agg's clustered distribution as a key subset) and its
    * output partitioning feeds `partitionBy(pred, bucket)` directly — ONE
    * shuffle of the triple relation where aggregating first and then
    * writing pays two.
    * PlanShapeSpec asserts the single-exchange plan; ResumeSpec asserts the
    * table of raw rows equals the table of `Pipeline.allTriples`.
    */
  def writeTriplesDeduped(spark: SparkSession, rawTriples: DataFrame, root: String,
      buckets: Int = BucketsDefault, inputLineage: String = ""): Seq[PartitionManifest] =
    commitPending(spark, dedupedPending(spark, rawTriples, root, buckets), root)(inputLineage)

  /** The single-exchange dedup plan of [[writeTriplesDeduped]] (visible for
    * plan-shape tests).
    */
  def dedupedPending(spark: SparkSession, rawTriples: DataFrame, root: String,
      buckets: Int = BucketsDefault): DataFrame =
    layout(resumeFilter(spark, rawTriples, root, buckets))
      .groupBy(col("pred"), col("bucket"), col("subj"), col("obj"))
      .agg(max(col("score")).as("score"),
        min(col("src_offset")).cast("int").as("src_offset"))

  private def commitPending(spark: SparkSession, pending: DataFrame, root: String)(
      inputLineage: String): Seq[PartitionManifest] = {
    val t0 = System.nanoTime()
    // crash hygiene: data directories without a manifest are uncommitted
    // leftovers of an interrupted run — drop them before re-writing, else
    // append-mode would duplicate their rows
    dropUncommitted(root)
    pending.write
      .mode("append")
      .partitionBy("pred", "bucket")
      .parquet(root)
    // lineage/metrics per freshly written partition (read back what we wrote:
    // the manifest must describe the bytes on disk, not the plan). The stats
    // scan is restricted to THIS run's fresh (pred, bucket) dirs via a
    // partition-pruned filter — a resume run must never pay a re-read of the
    // committed history (at 100 TB of output that re-read costs the whole
    // table); ResumeSpec proves the pruning behaviorally.
    val already = committed(root).toSet
    val fresh = dataPartitions(root).filterNot(already).sorted
    if (fresh.isEmpty) return Seq.empty
    val stats = partitionStats(spark, root, fresh)
      .collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val wallSec = (System.nanoTime() - t0) / 1e9
    val manifests = fresh.map { case (pred, bucket) =>
      val (rows, checksum) = stats((pred, bucket))
      PartitionManifest(pred, bucket, rows, checksum, wallSec, inputLineage)
    }
    Files.createDirectories(manifestDir(root))
    manifests.foreach { m =>
      val tmp = manifestDir(root).resolve(s".${m.pred}_${m.bucket}.json.tmp")
      val fin = manifestDir(root).resolve(s"${m.pred}_${m.bucket}.json")
      Files.write(tmp, m.json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, fin,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    manifests
  }

  /** Per-partition row count + content checksum for exactly `partitions`:
    * the filter is a disjunction of literal (pred, bucket) equalities on the
    * two partition columns, so the parquet scan partition-prunes to those
    * dirs and reads nothing else. Exposed for ResumeSpec.
    */
  def partitionStats(spark: SparkSession, root: String,
      partitions: Seq[(String, Int)]): DataFrame = {
    val keep = partitions
      .map { case (p, b) => col("pred") === p && col("bucket") === b }
      .reduceOption(_ || _)
      .getOrElse(lit(false)) // no partitions requested -> empty result, not a crash
    spark.read.schema(tableSchema).parquet(root)
      .where(keep)
      .groupBy(col("pred"), col("bucket"))
      .agg(count(lit(1)).as("rows"),
        coalesce(sum(hash(col("subj"), col("obj")).cast("long")), lit(0L)).as("checksum"))
  }

  /** Read the committed triples back (partition-pruned by `pred` filters). */
  def readTriples(spark: SparkSession, root: String): DataFrame = {
    val done = committed(root).toSet
    val all = spark.read.schema(tableSchema).parquet(root)
    if (done.isEmpty) all
    else {
      import spark.implicits._
      val doneDf = done.toSeq.toDF("pred_done", "bucket_done")
      all.join(broadcast(doneDf),
        col("pred") === col("pred_done") && col("bucket") === col("bucket_done"),
        "left_semi")
    }
  }
}

/** One partition's commit record: lineage + metrics. `pred` must be
  * filename-safe (it names the manifest file and the partition dir and is
  * parsed back by `committed`); free-text lineage is JSON-escaped.
  */
case class PartitionManifest(
    pred: String, bucket: Int, rows: Long, checksum: Long,
    wallSec: Double, inputLineage: String) {
  require(pred.matches("[A-Za-z0-9_-]+"),
    s"pred must match [A-Za-z0-9_-]+ (manifest filename + JSON safety): '$pred'")

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def json: String =
    s"""{"pred": "$pred", "bucket": $bucket, "rows": $rows,
       | "checksum": $checksum, "wall_sec": $wallSec,
       | "input": "${esc(inputLineage)}",
       | "format": "parquet-iceberg-shaped"}""".stripMargin
}
