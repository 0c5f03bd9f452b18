package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ScalingBench
import graft.kg.Pipeline
import graft.kg.emit.TableIO
import graft.kg.extract.Extractors
import graft.kg.io.SyntheticCorpus
import graft.kg.link.Linking

/** The production batch path: scan the postings table, extract and link
  * (`Pipeline.allTriplesRaw`), write the deduplicated triple table with its
  * manifests (`TableIO.writeTriplesDeduped`), canonicalize title surfaces
  * (`Pipeline.canonicalSurfaces`). One operation is one whole build.
  */
final class KgBuild(ctx: Ctx) extends Workload {
  import ctx.spark

  val name = "kg_build"
  /** 5,000 base documents replicated 5 ways: 25,000 postings. */
  private val BaseDocs = ctx.docs(5000)
  private val Repl = 5

  private val gaz = Pipeline.defaultGazetteers(spark)
  private var postingsDir = ""
  private var triplesRef = Map.empty[String, (Long, Long)]
  private var canonRef = (0L, 0L)

  def setup(dir: String): Unit = {
    val sf = Inputs.writeDocuments(spark, s"$dir/docs", BaseDocs)
    val docs = ScalingBench.replicatedDocs(spark, sf, Repl, ctx.partitions)
      .withColumn("doc_id", col("doc_id") + Inputs.docOffset(ctx.seed))
    SyntheticCorpus.fromDocuments(docs).write.parquet(s"$dir/postings")
    postingsDir = s"$dir/postings"
  }

  /** References from other code paths than the timed ones: the in-memory
    * deduplicated triples (`Pipeline.allTriples`, no table layout) and the
    * incremental canonicalization (result-equal by the CC identity).
    */
  def prepare(): Unit = {
    val postings = spark.read.parquet(postingsDir)
    triplesRef = Checks.tripleSummary(Pipeline.allTriples(postings, gaz))
    canonRef = Checks.summary(Pipeline.canonicalSurfacesIncremental(
      Extractors.textSpans(postings), gaz.titles))
  }

  /** One build; returns (wall seconds, triples committed, checks). */
  private def build(): (Double, Long, Seq[Check]) = {
    val out = ctx.freshDir("kg-out")
    val t0 = System.nanoTime()
    val postings = spark.read.parquet(postingsDir)
    if (ctx.tracing) {
      // the layers Pipeline.allTriplesRaw calls, each run on its own and
      // forced, so each gets its own span (traced runs only)
      val spans = ctx.span("kg.extract.spans") {
        val s = ctx.force(Extractors.textSpans(postings))
        ctx.note("rows_out", s.count().toDouble)
        s
      }
      val cands = ctx.span("kg.extract.candidates") {
        val c = ctx.force(Extractors.candidates(spans, gaz.prep.mentionTwoGramKinds,
          gaz.mentionDims.map(_._1)))
        ctx.note("rows_out", c.count().toDouble)
        c
      }
      ctx.span("kg.link") {
        val titles = cands.where(col("ctype") === "title")
          .select(col("doc_id"), col("payload").as("candidate"), col("offset"))
        val linked = ctx.force(Linking.linkCandidates(titles, gaz.titles))
        ctx.note("hit_ratio", linked.select("doc_id", "offset").distinct().count().toDouble /
          math.max(1L, titles.count()))
      }
    }
    val raw = ctx.span("kg.pipeline.triples")(ctx.force(Pipeline.allTriplesRaw(postings, gaz)))
    val manifests = ctx.span("kg.emit.write") {
      val m = TableIO.writeTriplesDeduped(spark, raw, out, inputLineage = s"perfbench seed ${ctx.seed}")
      ctx.note("files", Dirs.countFiles(out, ".parquet").toDouble)
      ctx.note("rows_out", m.map(_.rows).sum.toDouble)
      m
    }
    val canon = ctx.span("kg.canon.cc")(Checks.summary(
      Pipeline.canonicalSurfaces(Extractors.textSpans(postings), gaz.titles)))
    val wall = Workload.seconds(t0)

    val committed = manifests.map(_.rows).sum
    val got = Checks.tripleSummary(TableIO.readTriples(spark, out))
    val checks = Seq(
      Checks.eq("kg_build manifest rows = rows read back", committed, got.values.map(_._1).sum),
      Checks.eq("kg_build triples = Pipeline.allTriples", got, triplesRef),
      Checks.eq("kg_build canonical = incremental canonical", canon, canonRef)) ++
      ctx.expected.get(name, ctx.seed).toSeq.flatMap { e =>
        val want = e.get("triples").properties().asScala
          .map(x => x.getKey -> Expected.pair(x.getValue)).toMap
        Seq(Checks.eq("kg_build triples = recorded", got, want),
          Checks.eq("kg_build canonical = recorded", canon, Expected.pair(e.get("canonical"))))
      }
    if (checks.forall(_.ok)) Main.record(name, ctx.seed, Json.obj(Seq(
      "triples" -> Json.obj(got.toSeq.sorted.map { case (p, (n, h)) => p -> s"[$n, $h]" }),
      "canonical" -> s"[${canon._1}, ${canon._2}]")))
    ctx.discard(out)
    (wall, committed, checks)
  }

  def measure(deadlineNs: Long): Measurement = {
    var triples = 0L
    val (lat, attempted, failed) = Workload.closedLoop(deadlineNs, 1) { () =>
      val (s, n, checks) = build()
      triples = n
      (s, checks)
    }
    val perS = triples / Stats.median(lat)
    Measurement(lat, perS, attempted, failed, Seq(
      ("triples_per_s", perS, "triples/s"),
      ("build_p50_s", Stats.median(lat), "s"),
      ("builds", lat.size.toDouble, "count")))
  }

  def unit(): (Double, Seq[Check]) = {
    val (s, _, checks) = build()
    (s, checks)
  }
}
