package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.ScalingBench
import graft.kg.Pipeline
import graft.kg.emit.TableIO
import graft.kg.io.SyntheticCorpus
import graft.kg.query.{Ontology, TripleStore}
import graft.kg.query.TripleStore.TriplePattern

/** The read side of the layout `kg_build` writes: a seeded mix of
  * `TripleStore` queries over a triple table committed in set-up, read back
  * through `TableIO.readTriples`. One operation is one query, its result
  * collected by the client.
  */
final class KgQuery(ctx: Ctx) extends Workload {
  import ctx.spark
  import KgQuery._

  val name = "kg_query"
  /** 2,000 base documents replicated 5 ways: 10,000 postings. */
  private val BaseDocs = ctx.docs(2000)
  private val Repl = 5
  /** Constant sets per query shape. */
  private val Variants = 2

  private val gaz = Pipeline.defaultGazetteers(spark)
  private var tableDir = ""
  private var postingsDir = ""
  private lazy val ontology: DataFrame = Ontology.taxonomyDf(spark)
    .select(col("child").as("subj"), lit("is_a").as("pred"), col("parent").as("obj"))

  /** Seeded constants: skills other than the hot S000 (its postings are
    * several times more frequent, which would make the work depend on the
    * draw), languages, locations and titles that the corpus emits. Chains
    * start at requiresSkill and siblings join on locatedIn for every seed.
    */
  private val queries: Seq[Query] = {
    val rnd = new scala.util.Random(ctx.seed)
    def skill() = f"S${1 + rnd.nextInt(29)}%03d"
    def lang() = f"LANG${rnd.nextInt(3)}%02d"
    def loc() = f"LOC${rnd.nextInt(12)}%02d"
    def title() = f"T${rnd.nextInt(20)}%03d"
    val (p, via) = ("requiresSkill", "locatedIn")
    (0 until Variants).flatMap { _ =>
      val (s, l, c, t) = (skill(), lang(), loc(), title())
      Seq(
        Query("star", false, s"$s $l", t => TripleStore.starQuery(t, Seq(
          TriplePattern("requiresSkill", obj = Some(s)),
          TriplePattern("requiresLanguage", obj = Some(l)),
          TriplePattern("hasTitle", bind = Some("title")),
          TriplePattern("locatedIn", bind = Some("loc"))))),
        Query("star_optional", false, s, t => TripleStore.starQuery(t, Seq(
          TriplePattern("requiresSkill", obj = Some(s)),
          TriplePattern("hasTitle", bind = Some("title")),
          TriplePattern("locatedIn", bind = Some("loc"), optional = true)))),
        Query("chain", true, p, t => TripleStore.chainQuery(t, p, "is_a")),
        Query("chain3", true, p, t => TripleStore.chainQuery3(t, p, "is_a", "is_a")),
        Query("sibling", false, s"$s $via", t => TripleStore.siblingQuery(t, via,
          Seq(TriplePattern("requiresSkill", obj = Some(s))))),
        Query("describe", true, s"$s $c", t => TripleStore.describe(t, Seq(s, c))),
        Query("ask_batch", true, s"$t $s $c", t0 => TripleStore.askBatch(t0, Seq(
          ("titled", "hasTitle", Some(t)), ("skilled", "requiresSkill", Some(s)),
          ("located", "locatedIn", Some(c)), ("absent", "locatedIn", Some("LOC99"))))))
    }
  }

  /** The seeded mix: rounds that each run every query once, in a seeded
    * order, so every seed runs the shapes in the same proportions.
    */
  private val mix: Iterator[Query] = {
    val rnd = new scala.util.Random(ctx.seed ^ 0x5DEECE66DL)
    Iterator.continually(rnd.shuffle(queries)).flatten
  }

  def setup(dir: String): Unit = {
    val sf = Inputs.writeDocuments(spark, s"$dir/docs", BaseDocs)
    val docs = ScalingBench.replicatedDocs(spark, sf, Repl, ctx.partitions)
      .withColumn("doc_id", col("doc_id") + Inputs.docOffset(ctx.seed))
    SyntheticCorpus.fromDocuments(docs).write.parquet(s"$dir/postings")
    TableIO.writeTriplesDeduped(spark,
      Pipeline.allTriplesRaw(spark.read.parquet(s"$dir/postings"), gaz), s"$dir/triples")
    postingsDir = s"$dir/postings"
    tableDir = s"$dir/triples"
  }

  private val refs = mutable.Map.empty[Query, Seq[String]]
  private var refTriples: DataFrame = _

  /** References come from the same query over `Pipeline.allTriples` of the
    * same postings, in memory: they do not depend on the table layout.
    */
  def prepare(): Unit =
    refTriples = Pipeline.allTriples(spark.read.parquet(postingsDir), gaz)
      .select(col("subj"), col("pred"), col("obj"))
      .localCheckpoint(true)

  private def input(q: Query, triples: DataFrame): DataFrame = {
    val spo = triples.select(col("subj"), col("pred"), col("obj"))
    if (q.ontology) spo.unionByName(ontology) else spo
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Runs one query; returns (wall seconds, check). */
  private def run(q: Query): (Double, Check) = {
    val t0 = System.nanoTime()
    val table = ctx.span("kg.emit.read") {
      val t = TableIO.readTriples(spark, tableDir)
      if (ctx.tracing) ctx.note("files_read", filesRead(t))
      t
    }
    val got = ctx.span(s"kg.query.${q.shape}")(rows(q.run(input(q, table))))
    val wall = Workload.seconds(t0)
    val want = refs.getOrElseUpdate(q, rows(q.run(input(q, refTriples))))
    (wall, Check(s"kg_query ${q.shape}(${q.constants}) = same query over Pipeline.allTriples",
      got == want, s"${got.size} rows, want ${want.size}"))
  }

  def measure(deadlineNs: Long): Measurement = {
    val (lat, attempted, failed) = Workload.closedLoop(deadlineNs, 11) { () =>
      val (s, c) = run(mix.next())
      (s, Seq(c))
    }
    val tail = Stats.tail(lat)
    Measurement(lat, lat.size / lat.sum, attempted, failed, Seq(
      ("query_p50_ms", Stats.median(lat) * 1000, "ms"),
      ("query_tail_ms", tail.map(_._2 * 1000).getOrElse(Double.NaN), "ms"),
      ("query_tail_percentile", tail.map(_._1).getOrElse(Double.NaN), "%"),
      ("queries", lat.size.toDouble, "count")))
  }

  /** One query of each shape (the first constant set). */
  def unit(): (Double, Seq[Check]) = {
    val results = queries.take(queries.size / Variants).map(run)
    (results.map(_._1).sum, results.map(_._2))
  }

  /** Parquet files the scan of the table read (the scan's own SQL metric). */
  private def filesRead(t: DataFrame): Double = {
    val df = t.select(col("pred"))
    df.queryExecution.toRdd.count()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum.toDouble
  }
}

object KgQuery {
  /** One query instance: its shape, whether it reads the ontology's `is_a`
    * triples besides the table, its constants, and the query itself.
    */
  final case class Query(shape: String, ontology: Boolean, constants: String,
      run: DataFrame => DataFrame) {
    override def hashCode: Int = (shape, constants).hashCode
    override def equals(o: Any): Boolean = o match {
      case q: Query => q.shape == shape && q.constants == constants
      case _ => false
    }
  }

  val Shapes: Seq[String] =
    Seq("star", "star_optional", "chain", "chain3", "sibling", "describe", "ask_batch")
}
