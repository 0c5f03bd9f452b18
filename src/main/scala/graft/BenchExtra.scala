package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Round-7 instrumentation harness (guide §1: measure first) — NOT the
  * driver's bench. [[Bench]] stays the frozen measurement contract; this
  * main exists to DECOMPOSE per-query wall time into scheduler-visible
  * parts (jobs, stages, tasks, executor task-time sum, GC sum, shuffle
  * bytes) so optimization targets the real cost, and to dump
  * `.explain("formatted")` plans for the judge-facing `plans/r07/` audit.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchExtra [--plans outDir] [query ...]"
  *
  * With no query args, every registered query runs. Session config matches
  * [[Bench]] exactly so the decomposition explains the driver's numbers.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // order-independent flag parse: --plans <dir> and --stages may appear
    // in either order, anywhere before the query names
    var plansDir: Option[String] = None
    var stageDetail = false
    var names0 = List.empty[String]
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case "--plans" :: dir :: tail => plansDir = Some(dir); rest = tail
      case "--stages" :: tail => stageDetail = true; rest = tail
      case q :: tail => names0 = names0 :+ q; rest = tail
      case Nil => ()
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    SparkEntry.prestage(spark, sfDir)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val gcTimeMs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    // per-stage rollup for --stages: (name, numTasks, taskSumMs)
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val i = s.stageInfo
        val run = Option(i.taskMetrics).map(_.executorRunTime).getOrElse(0L)
        // the short name is usually the AQE pool callsite; the long-form
        // details carry the user stack — surface the first graft frame
        val site = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("BenchExtra"))
          .getOrElse(i.name).trim
        stageRows.add((site, i.numTasks, run))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          gcTimeMs.addAndGet(m.jvmGCTime)
          shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names =
      if (names0.nonEmpty) names0
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      plansDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, s"$name.txt"), plan)
      }
      spark.catalog.clearCache()
      jobs.set(0); stages.set(0); tasks.set(0)
      taskTimeMs.set(0); gcTimeMs.set(0); shufReadB.set(0); shufWriteB.set(0)
      stageRows.clear()
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // listener events arrive asynchronously; drain the bus so the
      // counters cover this query's tail
      org.apache.spark.sql.graft.Bridge.drainListeners(spark)
      println(f"[extra] $name%-36s wall=$wall%7.2f s rows=$n%7d " +
        f"jobs=${jobs.get}%3d stages=${stages.get}%4d tasks=${tasks.get}%5d " +
        f"taskSum=${taskTimeMs.get / 1000.0}%8.2f s gc=${gcTimeMs.get / 1000.0}%6.2f s " +
        f"shufR=${shufReadB.get / 1e6}%8.1f MB shufW=${shufWriteB.get / 1e6}%8.1f MB")
      if (stageDetail) {
        import scala.jdk.CollectionConverters._
        stageRows.asScala.toSeq.sortBy(-_._3).take(12).foreach {
          case (nm, nt, run) =>
            println(f"[stage]   ${run / 1000.0}%7.2f s  $nt%4d tasks  " +
              nm.linesIterator.next().take(110))
        }
      }
    }
    spark.stop()
  }
}
