package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What every workload shares: the session, the seed, the run's scratch
  * directory, the recorded expected outputs and, in a traced run, the
  * tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int, val work: String,
    val expected: Expected, shrink: Int = 1) {
  /** Shuffle partitions and input files: four task waves per core. */
  val partitions: Int = cores * 4

  var tracer: Option[Tracer] = None

  /** A workload's base document count; the harness self-tests shrink it. */
  def docs(n: Int): Int = math.max(20, n / shrink)

  def tracing: Boolean = tracer.isDefined

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  def note(key: String, value: Double): Unit = tracer.foreach(_.note(key, value))

  /** In a traced run, materialize a lazy layer output at the layer's
    * boundary, so its cost lands in its own span and not in the consumer's.
    */
  def force(df: DataFrame): DataFrame =
    if (tracing) df.localCheckpoint(true, StorageLevel.DISK_ONLY) else df

  private var dirs = 0
  private val spent = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Deletes a directory later, in [[sweep]]: the file system's deletes
    * (discards included) then stay out of the measured window.
    */
  def discard(dir: String): Unit = spent += dir

  def sweep(): Unit = {
    spent.foreach(Dirs.delete)
    spent.clear()
  }

  /** A fresh directory under the run's scratch directory. */
  def freshDir(tag: String): String = {
    dirs += 1
    s"$work/$tag-$dirs"
  }
}

/** One output check: a failed one counts as a failed operation. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload's measurement: per-operation latencies (seconds), its
  * throughput in its own items, and its named metrics for the report.
  */
final case class Measurement(latencies: Seq[Double], itemsPerS: Double,
    attempted: Int, failed: Int, named: Seq[(String, Double, String)])

trait Workload {
  def name: String

  /** Generate and write this workload's inputs under `dir` (timed as set-up,
    * repeatable: each call replaces the inputs the workload reads).
    */
  def setup(dir: String): Unit

  /** Untimed: whatever the output checks compare against. */
  def prepare(): Unit

  /** Run operations until `deadlineNs` (a full unit of work at least),
    * checking every output.
    */
  def measure(deadlineNs: Long): Measurement

  /** One traced (or, for the overhead baseline, untraced) unit of work: the
    * wall seconds it took and its output checks.
    */
  def unit(): (Double, Seq[Check])

  /** Untimed, before measuring: warm JIT, codegen and caches. */
  def warmup(): Seq[Check] = unit()._2

  /** Once per invocation, after the last unit of work: checks too costly to
    * run on every operation.
    */
  def finalChecks(): Seq[Check] = Seq()
}

object Workload {
  val Names: Seq[String] = Seq("kg_build", "dedup_batch", "dedup_daily", "kg_query")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "kg_build" => new KgBuild(ctx)
    case "dedup_batch" => new DedupBatch(ctx)
    case "dedup_daily" => new DedupDaily(ctx)
    case "kg_query" => new KgQuery(ctx)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `op` in a closed loop (one client: the next operation starts when
    * the previous one returned) until the deadline, at least `minOps` times.
    * An operation that throws or fails a check counts as failed.
    */
  def closedLoop(deadlineNs: Long, minOps: Int)(op: () => (Double, Seq[Check])): (Seq[Double], Int, Int) = {
    val lat = Seq.newBuilder[Double]
    var attempted = 0
    var failed = 0
    while (attempted < minOps || System.nanoTime() < deadlineNs) {
      attempted += 1
      try {
        val (s, checks) = op()
        lat += s
        if (!Checks.report(checks)) failed += 1
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"perfbench: operation failed: $e")
      }
    }
    (lat.result(), attempted, failed)
  }
}

object Checks {
  /** Logs failed checks; true when all passed. */
  def report(checks: Seq[Check]): Boolean = {
    checks.filterNot(_.ok).foreach(c =>
      System.err.println(s"perfbench: CHECK FAILED ${c.name}: ${c.detail}"))
    checks.forall(_.ok)
  }

  def eq[T](name: String, got: T, want: T): Check =
    Check(name, got == want, s"got $got, want $want")

  /** (rows, order-independent hash of the rows) of a relation. */
  def summary(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(hash(df.columns.map(col).toIndexedSeq: _*)
      .cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Per-predicate (rows, order-independent hash) of a triple relation. */
  def tripleSummary(df: DataFrame): Map[String, (Long, Long)] =
    df.groupBy(col("pred"))
      .agg(count(lit(1)), coalesce(sum(hash(col("subj"), col("obj"), col("score"),
        col("src_offset")).cast("long")), lit(0L)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
}

object Dirs {
  def delete(dir: String): Unit = graft.kg.emit.TableIO.deleteTree(dir)

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def countFiles(dir: String, suffix: String): Int = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.count((p: Path) => p.getFileName.toString.endsWith(suffix))
    finally s.close()
  }
}
