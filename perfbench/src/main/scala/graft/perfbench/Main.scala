package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side; `perfbench/run.py` builds it and starts it.
  *
  * `--trace 0` runs one workload: set-up [[Setups]] times (the median is
  * `setup_s`), untimed references, [[WarmupSeconds]] of warm-up, then operations in
  * a closed loop for `--seconds`, every output checked. It prints the
  * workload's named metrics, then the end-to-end metrics as the JSON last
  * line.
  *
  * Spark runs `nproc - 1` task threads: the last core stays free for the
  * driver, the JIT compiler and the GC. With every core running tasks the
  * C2 compiler lands its big compilations late (about 40 s into a 4-core
  * JVM) and at a time that moves with CPU contention, and operation
  * latency steps down by about a fifth inside the measured window.
  *
  * `--trace 1` runs every workload once more untraced and once traced, so
  * one traced run gives every per-layer metric and each workload's tracing
  * overhead (traced minus untraced wall of the same unit of work); the
  * spans are written to `--trace-out` when the run ends.
  */
object Main {

  /** Per-layer metrics: (workload, layer, extra counters, core metrics). */
  val Layers: Seq[(String, String, Seq[String], Seq[String])] = {
    val core = Tracer.Core
    val queryCore = Seq("wall_s", "driver_s", "jobs")
    Seq(
      ("kg_build", "kg.extract.spans", Seq("rows_out"), core),
      ("kg_build", "kg.extract.candidates", Seq("rows_out"), core),
      ("kg_build", "kg.link", Seq("hit_ratio"), core),
      ("kg_build", "kg.pipeline.triples", Seq(), core),
      ("kg_build", "kg.emit.write", Seq("files", "rows_out"), core),
      ("kg_build", "kg.canon.cc", Seq(), core),
      ("dedup_batch", "ops.dedup.exact", Seq(), core),
      ("dedup_batch", "ops.dedup.shingles", Seq(), core),
      ("dedup_batch", "ops.dedup.lsh", Seq("candidates"), core),
      ("dedup_batch", "ops.dedup.verify", Seq("kept_ratio"), core),
      ("dedup_batch", "kg.canon.cc", Seq(), core),
      ("dedup_daily", "ops.incremental.fold", Seq(), core),
      ("dedup_daily", "ops.incremental.compact", Seq(), core),
      ("dedup_daily", "ops.incremental.decision", Seq(), core),
      ("kg_query", "kg.emit.read", Seq("files_read"), core)) ++
      KgQuery.Shapes.map(s => ("kg_query", s"kg.query.$s", Seq(), queryCore))
  }

  /** Every per-layer metric name, counters first within each layer. */
  val LayerMetricNames: Seq[String] =
    Layers.flatMap { case (w, l, extra, core) => (extra ++ core).map(m => s"$w.$l.$m") } ++
      Workload.Names.flatMap(w => Seq(s"$w.trace.overhead_s", s"$w.jvm.peak_heap_mb"))

  private val recorded = scala.collection.mutable.Set.empty[String]

  /** Prints, once per workload and seed, the checked outputs in the form
    * `expected.json` records them.
    */
  def record(workload: String, seed: Long, json: String): Unit =
    if (recorded.add(workload)) println(s"# expected $workload $seed $json")

  private val started = System.nanoTime()

  /** Untimed warm-up before the measured window. */
  val WarmupSeconds = 15.0

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  private def phase(what: String): Unit =
    System.err.println(f"perfbench: $what done at ${Workload.seconds(started)}%.1f s")

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val traced = arg(args, "trace") == "1"
    val nproc = arg(args, "nproc").toInt
    val cores = math.max(1, nproc - 1)
    val work = arg(args, "work")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores * 4)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = Workload.seconds(t0)
    Heap.install()
    val host = Json.obj(Seq(
      "nproc" -> nproc.toString, "mem_mb" -> arg(args, "mem-mb"),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "master" -> Json.str(s"local[$cores]")))
    println(s"# host $host")
    val expected = Expected.load(arg(args, "expected"))
    def ctx(): Ctx = new Ctx(spark, seed, cores, work, expected)

    val result =
      try {
        if (traced) tracedRun(spark, ctx(), arg(args, "trace-out"), host)
        else untracedRun(ctx(), workload, seconds, sessionS)
      } finally spark.stop()
    println(result)
    // Spark's shutdown hooks only delete scratch files, which run.py removes
    // with the whole run directory; running them once took 17 s of a
    // 4-core run's time budget
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  private def untracedRun(ctx: Ctx, name: String, seconds: Int, sessionS: Double): String = {
    val w = Workload(name, ctx)
    val dirs = (1 to Setups).map(_ => ctx.freshDir("setup"))
    val setups = dirs.map { d =>
      val t0 = System.nanoTime()
      w.setup(d)
      Workload.seconds(t0)
    }
    dirs.init.foreach(Dirs.delete)
    phase("set-up")
    // the JIT keeps speeding operations up for several of them: warm up for
    // a fixed time (the references count, they run the same layers), not a
    // fixed count
    val t0 = System.nanoTime()
    w.prepare()
    phase("references")
    val warmChecks = Seq.newBuilder[Check]
    do warmChecks ++= w.warmup() while (Workload.seconds(t0) < WarmupSeconds)
    val warmS = Workload.seconds(t0)
    ctx.sweep()
    phase("warm-up")
    Heap.reset()
    val m = w.measure(System.nanoTime() + seconds * 1000000000L)
    val heapMb = Heap.peakMb
    ctx.sweep()
    phase("measured")
    val finalChecks = w.finalChecks()
    phase("final checks")
    val attempted = m.attempted + 1 + (if (finalChecks.isEmpty) 0 else 1)
    val failed = m.failed + Seq(warmChecks.result(), finalChecks).count(c => !Checks.report(c))
    val e2e = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("op_p50_ms", Stats.median(m.latencies) * 1000, "ms"),
      ("items_per_s", m.itemsPerS, "items/s"))
    val named = Seq(
      ("peak_heap_mb", heapMb, "MB"),
      ("session_start_s", sessionS, "s"),
      ("references_and_warmup_s", warmS, "s"),
      ("failed_ratio", failed.toDouble / attempted, "ratio"),
      ("samples", m.latencies.size.toDouble, "count")) ++ m.named
    (named ++ e2e).foreach { case (n, v, u) => println(s"# metric ${w.name} $n ${Json.num(v)} $u") }
    println(s"# latencies_s ${m.latencies.map(x => f"$x%.3f").mkString(" ")}")
    result(failed == 0, attempted, failed, e2e)
  }

  private def tracedRun(spark: SparkSession, base: Ctx, out: String, host: String): String = {
    var attempted = 0
    var failed = 0
    val values = scala.collection.mutable.Map.empty[String, Double]
    val spans = Seq.newBuilder[String]
    Workload.Names.foreach { name =>
      val ctx = new Ctx(spark, base.seed, base.cores, s"${base.work}/$name", base.expected)
      val w = Workload(name, ctx)
      w.setup(ctx.freshDir("setup"))
      w.prepare()
      Heap.reset()
      def count(checks: Seq[Check]): Unit = {
        attempted += 1
        if (!Checks.report(checks)) failed += 1
      }
      count(w.warmup())
      ctx.sweep()
      val (plain, c1) = w.unit()
      count(c1)
      ctx.sweep()
      val tracer = new Tracer(spark.sparkContext, s"$name-${base.seed}")
      ctx.tracer = Some(tracer)
      val (tracedS, c2) = w.unit()
      ctx.tracer = None
      count(c2)
      tracer.close()
      val fc = w.finalChecks()
      if (fc.nonEmpty) count(fc)
      tracer.rollup().foreach { case (layer, ms) =>
        ms.foreach { case (k, v) => values(s"$name.$layer.$k") = v }
      }
      values(s"$name.trace.overhead_s") = tracedS - plain
      values(s"$name.jvm.peak_heap_mb") = Heap.peakMb
      println(s"# metric $name trace.untraced_s ${Json.num(plain)} s")
      println(s"# metric $name trace.traced_s ${Json.num(tracedS)} s")
      spans += tracer.spansJson
      Dirs.delete(ctx.work)
    }
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, s"spans-seed${base.seed}.json"),
      s"""{"host": $host, "runs": [${spans.result().mkString(",\n")}]}""" + "\n")
    val missing = LayerMetricNames.filterNot(values.contains)
    if (missing.nonEmpty) System.err.println(s"perfbench: no value for ${missing.mkString(", ")}")
    val metrics = LayerMetricNames.map(n => (n, values.getOrElse(n, Double.NaN), unitOf(n)))
    result(failed == 0 && missing.isEmpty, attempted, failed, metrics)
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case "wall_s" | "driver_s" | "task_s" | "overhead_s" => "s"
    case "shuffle_mb" | "peak_heap_mb" => "MB"
    case "hit_ratio" | "kept_ratio" => "ratio"
    case "rows_out" => "rows"
    case "candidates" => "pairs"
    case _ => "count"
  }

  private def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(ms)))
  }
}
