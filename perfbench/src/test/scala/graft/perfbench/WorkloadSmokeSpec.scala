package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every workload at a tenth of its size: untraced and traced units, a
  * closed loop and the once-per-run checks pass every output check, the
  * traced unit records every layer the benchmark reports, and planted wrong
  * outputs fail their checks.
  */
class WorkloadSmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench-smoke").toString
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.local.dir", s"$work/spark-local")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Dirs.delete(work)
  }

  private def ctx(name: String, expected: String = "{}"): Ctx =
    new Ctx(spark, 3L, 2, s"$work/$name",
      new Expected(new com.fasterxml.jackson.databind.ObjectMapper().readTree(expected)),
      shrink = 10)

  Workload.Names.foreach { name =>
    test(s"$name: tiny run passes every output check and traces every layer") {
      val c = ctx(name)
      val w = Workload(name, c)
      w.setup(c.freshDir("setup"))
      w.prepare()
      val (_, plain) = w.unit()
      assert(plain.nonEmpty && plain.forall(_.ok), plain.filterNot(_.ok))
      val tracer = new Tracer(spark.sparkContext, "smoke")
      c.tracer = Some(tracer)
      val (_, traced) = w.unit()
      c.tracer = None
      assert(traced.forall(_.ok), traced.filterNot(_.ok))
      val layers = tracer.rollup()
      Main.Layers.filter(_._1 == name).foreach { case (_, layer, extra, core) =>
        assert(layers.contains(layer), layer)
        (extra ++ core).foreach(m => assert(layers(layer).contains(m), s"$layer.$m"))
      }
      val m = w.measure(System.nanoTime())
      assert(m.failed == 0 && m.attempted >= 1 && m.latencies.nonEmpty)
      val fc = w.finalChecks()
      assert(fc.forall(_.ok), fc.filterNot(_.ok))
      c.sweep()
    }
  }

  test("kg_build: an output that differs from the recorded one fails its check") {
    val c = ctx("kg_build_wrong", """{"kg_build": {"3": {"triples": {"hasTitle": [1, 2]},
      "canonical": [3, 4]}}}""")
    val w = Workload("kg_build", c)
    w.setup(c.freshDir("setup"))
    w.prepare()
    val failed = w.unit()._2.filterNot(_.ok).map(_.name)
    assert(failed.toSet == Set("kg_build triples = recorded", "kg_build canonical = recorded"))
  }

  test("dedup_batch: a wrong keeper breaks the planted decisions") {
    val c = ctx("dedup_wrong")
    val w = new DedupBatch(c)
    w.setup(c.freshDir("setup"))
    val decision = graft.ops.Dedup.dupClusters(
      spark.read.parquet(s"${c.work}/setup-1/corpus"), bands = 16, rows = 2)
    assert(w.plantedViolations(decision) == 0)
    val unique = Inputs.docOffset(3L) + 5 // r = 5: a unique document
    val wrong = decision.withColumn("keep_id",
      when(col("doc_id") === unique, col("doc_id") - 5).otherwise(col("keep_id")))
    assert(w.plantedViolations(wrong) == 1)
  }
}
