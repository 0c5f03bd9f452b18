package graft.kg.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** File/table-backed gazetteer loading (the reference ships its dictionaries
  * as classpath resource files — SURVEY.md §1.1/§3.1; a real user swaps in
  * real dictionaries here without touching extraction code). Schema is FIXED,
  * never inferred (SURVEY.md §1.2): (entity_id, surface, canonical), all
  * non-null strings — the same shape as [[graft.kg.schema.GazEntry]] and the
  * in-code [[Dictionaries]].
  *
  * Validation belongs to the LOAD/prep pass, not to per-plan construction:
  * extraction operators assume (and document) that every surface starts with
  * [A-Z0-9] — that contract powers the uppercase-first-token gram pre-filter
  * that drops ~95% of gram rows. Call [[validated]] once per loaded table.
  */
object GazetteerIO {

  val schema: StructType = StructType(Seq(
    StructField("entity_id", StringType, nullable = false),
    StructField("surface", StringType, nullable = false),
    StructField("canonical", StringType, nullable = false)))

  /** Gazetteer from a parquet table (entity tables at cluster scale). */
  def fromParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Gazetteer from tab-separated text (the reference's resource-file form):
    * `entity_id \t surface \t canonical`, no header. Quote and escape
    * handling are DISABLED: fields are taken verbatim between tabs, so a
    * real user dictionary whose surface contains (or starts with) a double
    * quote survives the load unmangled.
    */
  def fromText(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).option("sep", "\t")
      .option("quote", "").option("escape", "")
      .csv(path)

  /** Prep-pass validation (one tiny driver-side action per loaded gazetteer,
    * never inside plan construction): every surface non-empty and starting
    * with [A-Z0-9] — the gram pre-filter's contract.
    */
  def validated(gaz: DataFrame, what: String = "gazetteer"): DataFrame = {
    val offending = gaz
      .where(col("surface").isNull || !substring(col("surface"), 1, 1).rlike("[A-Z0-9]"))
      .select(col("surface")).limit(3).collect().map(_.getString(0))
    require(offending.isEmpty,
      s"$what surfaces must start with [A-Z0-9] (gram pre-filter contract); " +
        s"offending: ${offending.mkString(", ")}")
    gaz
  }

  /** Whether any surface has more than one whitespace token (drives n-gram
    * width in mention detection). Prep-pass fact — compute once per table.
    */
  def hasMultiTokenSurface(gaz: DataFrame): Boolean =
    gaz.select(max(size(split(col("surface"), " ")))).head().getInt(0) > 1

  /** The gram pre-filter implied by [[validated]]'s contract: a token can
    * only match a gazetteer surface if its first char is [A-Z0-9]. ONE
    * definition next to the contract it encodes — extraction operators must
    * use this, not private copies that could drift. The one other spelling
    * is the gram kernel's byte form, [[graft.kg.expr.TokenGramsAlgo.upperStart]];
    * GramKernelSpec holds the two equal on generated tokens.
    */
  def upperStart(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = substring(c, 1, 1)
    (h >= "A" && h <= "Z") || (h >= "0" && h <= "9")
  }

  /** Harness helper: the in-code skills dictionary written once per JVM as a
    * TSV resource file, so a registered query exercises the full
    * file-load → validate → broadcast-join path against the same oracle as
    * the in-code gazetteer. A [[graft.Standing]] artifact, checked on the
    * file itself.
    */
  def materializedSkillsTsv(): String = {
    def tsv(dir: String) = Paths.get(dir, "skills.tsv")
    graft.Standing("gazetteers", "skills", dir => Files.exists(tsv(dir))) { dir =>
      val lines = Dictionaries.gazSkills
        .map(g => s"${g.entity_id}\t${g.surface}\t${g.canonical}")
        .mkString("", "\n", "\n")
      Files.write(tsv(dir), lines.getBytes(StandardCharsets.UTF_8)).toString
    }
  }
}
