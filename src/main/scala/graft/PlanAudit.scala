package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic: dump `explain("formatted")` for the flagship queries so plan
  * regressions (lost pushdown, a join degenerating to nested-loop, a codegen
  * break in the hot path) are visible as text diffs. Curated excerpts +
  * commentary live in PLANS.md. Expression ids (`doc_id#123` prints as
  * `doc_id#`) and exchange plan ids are stripped: they differ from run to
  * run, so a diff of two dumps shows only real plan changes.
  *
  * Usage: `sbt "runMain graft.PlanAudit [queryName ...]"` (default: the
  * flagship set below) against SPARK_GRAFT_SF_DIR (default sf0.001).
  */
object PlanAudit {

  val flagship: Seq[String] = Seq(
    "kg_all_triples", "kg_skills", "kg_title", "kg_skills_salted",
    "dedup_embedding", "dedup_minhash_lsh", "sim_ivf_topk", "dedup_simhash",
    "dedup_clusters", "sim_ivf_kmeans_topk", "sim_batch_topk", "sim_knn_join",
    "curate_corpus", "kg_entity_pagerank", "kg_entity_triangles",
    "curate_gopher", "curate_source_gate", "text_bpe_merges",
    "kg_entailed_triples", "kg_property_table", "kg_star_optional",
    "kg_entity_lpa", "kg_walk_pairs", "curate_redact_pii",
    "kg_html_spans", "kg_reach_sketch", "kg_harmonic_centrality")

  private def stripIds(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else flagship
    names.foreach { name =>
      println(s"\n======== $name ========")
      println(stripIds(
        SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
