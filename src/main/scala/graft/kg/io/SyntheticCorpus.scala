package graft.kg.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic derivation of the canonical `postings` table
  * (doc_id:string, spans:array<struct<kind,text,media_ref,offset>>) from the
  * driver-provided `documents` parquet (TESTDATA.md, seed=42). No wall-clock,
  * no randomness: every span is a pure function of (doc_id, text), so the
  * expected triples are computable analytically — that is what the DuckDB
  * oracles in SparkEntry.oracleSql do.
  *
  * Per-doc layout (d = doc_id, q3 = d/3, tokens = split(text,' '),
  * nb = ceil(#tokens/8)):
  *   1. h1 title span: titles(d%20); typo surface when d%7==3 (fuzzy-link
  *      path); "(m/w)" gender suffix appended when d%5==0.
  *   2. workload p span: d%3==0 -> "Pensum {lo} - {hi}%" (lo=20+10*(q3%8),
  *      hi=lo+10); d%3==1 -> "Teilzeit {x}%" (x=10*(1+q3%9)); d%3==2 -> none.
  *   3. language p span: d%4 in {0,2} -> "Deutsch und Englisch
  *      verhandlungssicher"; d%4==1 -> "Franzoesisch fliessend"; else none.
  *   4. nb body spans from 8-token chunks (kind 'li' when i%4==1 else 'p' —
  *      noise li spans that must NOT yield skills), with an interleaved media
  *      span "img://{d}/{i}" after body span i whenever (d+i)%3==0
  *      (graft payload "interleaved": media participates in the order
  *      invariant but is skipped by text extractors).
  *   5. d%4 skill li spans "Erfahrung mit {skill}", skill index
  *      j -> (d+7j)%5==0 ? 0 : (d+7j)%30  (index 0 = "Java" is the hot key).
  *   6. footer location span "{plz} {city}" when d%2==0, location (d/2)%12.
  *   7. footer company span companySurface(d%15), always.
  * Offsets are assigned 0..n-1 over the final order.
  *
  * Everything is org.apache.spark.sql.functions built-ins (codegen'd; no
  * UDFs), so the derivation itself is a Catalyst-only, whole-stage-codegen
  * pipeline that scales with the scan.
  */
object SyntheticCorpus {
  import Dictionaries._

  /** Bump whenever the derivation below (or Dictionaries content it draws
    * from) changes — ScalingBench keys its shared on-disk prep cache on this,
    * so a stale table from an older code version can never be silently
    * reused.
    */
  val DerivationVersion = 2

  private val SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string>"

  private def textSpan(kind: Column, text: Column): Column =
    struct(kind.as("kind"), text.as("text"), lit("").as("media_ref"))

  private def emptySpans: Column = expr(s"cast(array() as array<$SPAN_STRUCT>)")

  /** postings derived from `$sfDir/documents.parquet`. */
  def postings(spark: SparkSession, sfDir: String): DataFrame =
    fromDocuments(spark.read.parquet(s"$sfDir/documents.parquet"))

  /** The derivation above is *corpus prep* (SURVEY.md §2.1 R1: HTML→spans
    * flattening happens upstream; the pipeline's input IS the postings
    * table). This materializes the derived table to parquet once per JVM and
    * serves subsequent reads from it, so harness queries measure the
    * pipeline over a real table scan instead of re-deriving per query. A
    * [[graft.Standing]] table: a deleted directory is rebuilt, not read.
    */
  def materializedPostings(spark: SparkSession, sfDir: String): DataFrame = {
    val path = graft.Standing("postings", sfDir) { dir =>
      // File layout of the standing table (optimization guide §6): written
      // as session-parallelism many key-clustered files, NOT whatever the
      // derivation's partitioning happens to be. The derivation reads the
      // driver's documents.parquet (one small file at harness scale → ONE
      // write partition), and a single parquet file under
      // maxPartitionBytes = ONE scan task — which serialized the first
      // (CPU-dense candidate/gram explode) stage of every downstream query
      // on one core. Explicit N: an expression-only repartition is
      // AQE-coalescible right back to one file.
      val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      postings(spark, sfDir).repartition(np, col("doc_id"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    spark.read.parquet(path)
  }

  /** Same derivation over an arbitrary documents-shaped frame
    * (doc_id:bigint, text:string) — used by the scaling bench on a
    * replicated input.
    */
  def fromDocuments(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val q3 = (d / 3).cast("long")

    // 1. title
    val tIdx = (d % 20).cast("int")
    val canonArr = typedLit(titles.map(_._1))
    val typoArr = typedLit(titles.map(_._3))
    val baseTitle =
      when(d % 7 === 3, element_at(typoArr, tIdx + 1))
        .otherwise(element_at(canonArr, tIdx + 1))
    val titleText =
      when(d % 5 === 0, concat(baseTitle, lit(" (m/w)"))).otherwise(baseTitle)
    val titleSpan = textSpan(lit("h1"), titleText)

    // 2. workload
    val lo = (lit(20) + lit(10) * (q3 % 8)).cast("int")
    val wlText = when(d % 3 === 0, format_string("Pensum %d - %d%%", lo, lo + 10))
      .when(d % 3 === 1, format_string("Teilzeit %d%%", (lit(10) * (q3 % 9 + 1)).cast("int")))
      .otherwise(lit(null))
    val wlSpan = when(wlText.isNotNull, textSpan(lit("p"), wlText)).otherwise(lit(null))

    // 3. language
    val langText = when(d % 4 === 0 || d % 4 === 2, lit("Deutsch und Englisch verhandlungssicher"))
      .when(d % 4 === 1, lit("Franzoesisch fliessend"))
      .otherwise(lit(null))
    val langSpan = when(langText.isNotNull, textSpan(lit("p"), langText)).otherwise(lit(null))

    val headSpans = filter(array(titleSpan, wlSpan, langSpan), s => s.isNotNull)

    // 4. body chunks + interleaved media
    val tokens = split(col("text"), " ")
    val nb = ((size(tokens) + 7) / 8).cast("int")
    val bodySpans = flatten(transform(sequence(lit(0), nb - 1), i => {
      val kind = when(i % 4 === 1, lit("li")).otherwise(lit("p"))
      val body = textSpan(kind, array_join(slice(tokens, i * 8 + 1, lit(8)), " "))
      val media = when((d + i) % 3 === 0,
        struct(lit("media").as("kind"), lit("").as("text"),
          format_string("img://%d/%d", d, i).as("media_ref"))).otherwise(lit(null))
      filter(array(body, media), s => s.isNotNull)
    }))

    // 5. skills
    val nsk = (d % 4).cast("int")
    val skillArr = typedLit(skills)
    val skillSpans = when(nsk > 0, transform(sequence(lit(0), nsk - 1), j => {
      val raw = (d + lit(7) * j) % 30
      val idx = when((d + lit(7) * j) % 5 === 0, lit(0)).otherwise(raw).cast("int")
      textSpan(lit("li"), concat(lit("Erfahrung mit "), element_at(skillArr, idx + 1)))
    })).otherwise(emptySpans)

    // 6 + 7. footers
    val locIdx = ((d / 2).cast("long") % 12).cast("int")
    val plzArr = typedLit(locations.map(_._1))
    val cityArr = typedLit(locations.map(_._2))
    val locSpan = when(d % 2 === 0,
      textSpan(lit("footer"),
        concat(element_at(plzArr, locIdx + 1), lit(" "), element_at(cityArr, locIdx + 1))))
      .otherwise(lit(null))
    val compArr = typedLit(companyNames.indices.map(companySurface))
    val compSpan = textSpan(lit("footer"), element_at(compArr, (d % 15).cast("int") + 1))
    val footSpans = filter(array(locSpan, compSpan), s => s.isNotNull)

    val all = concat(headSpans, bodySpans, skillSpans, footSpans)
    // The doc_id string-cast happens in the SECOND select: aliasing
    // `cast(doc_id as string) AS doc_id` alongside the span expressions would
    // make their internal col("doc_id") references resolve laterally to the
    // casted alias (Spark lateral column alias resolution) and corrupt the
    // integer arithmetic.
    docs
      .select(d, all.as("spans0"))
      .select(col("doc_id").cast("string").as("doc_id"), expr(
        """transform(spans0, (sp, i) -> named_struct(
          |  'kind', sp.kind, 'text', sp.text, 'media_ref', sp.media_ref,
          |  'offset', cast(i as int)))""".stripMargin).as("spans"))
  }
}
