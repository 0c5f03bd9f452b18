package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.kg.expr.TokenGramsAlgo
import graft.kg.extract.Extractors
import graft.kg.io.GazetteerIO

/** The codegen'd gram kernel (`kg/expr/TokenGrams`) is result-equal to the
  * `transform`/`filter` lambda spelling it replaced, on generated spans:
  * double, leading and trailing spaces, 1-token spans, digits, non-ASCII
  * capitals, null text, and kinds outside the mention and two-gram kinds.
  * The lambda spellings below are the reference, kept verbatim.
  */
class GramKernelSpec extends SparkTestBase {

  private val token: Gen[String] = Gen.oneOf(
    "java", "und", "mit", "über", "x", "Java", "SAP", "HANA", "Power", "BI", "St.",
    "Gallen", "Ärzte", "École", "Über", "9000", "80%", "0", "(m/w)", "AG", "-in")
  private val sep: Gen[String] = Gen.frequency(6 -> " ", 2 -> "  ", 1 -> "   ")
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    12 -> (for {
      n <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.const(1), 8 -> Gen.choose(2, 7))
      toks <- Gen.listOfN(n, token)
      seps <- Gen.listOfN(n, sep)
      lead <- Gen.oneOf("", " ", "  ")
      trail <- Gen.oneOf("", " ", "  ")
    } yield Some(lead + toks.zip(seps).map { case (t, s) => t + s }.mkString.dropRight(
      seps.lastOption.map(_.length).getOrElse(0)) + trail)))
  private val kind: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    8 -> Gen.oneOf("li", "p", "footer", "h1", "h2", "title", "").map(Some(_)))

  /** 800 generated spans (doc_id, kind, text, offset), one span per doc. */
  private lazy val spans: DataFrame = {
    val gen = Gen.listOfN(800, Gen.zip(kind, text))
    val rows = gen.pureApply(Gen.Parameters.default, Seed(20261019L)).zipWithIndex.map {
      case ((k, t), i) => Row(f"g$i%04d", k.orNull, t.orNull, i % 7)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("doc_id", StringType), StructField("kind", StringType),
      StructField("text", StringType), StructField("offset", IntegerType))))
  }

  private def isin(ks: Seq[String]): Column = col("kind").isin(ks.map(x => x: Any): _*)

  // ---- the reference: the lambda spellings the kernel replaced ----

  private def lambdaNgramRows(spans: DataFrame, maxN: Int): DataFrame = {
    val tokens = col("ts")
    val grams: Seq[Column] = (1 to maxN).map { n =>
      when(size(tokens) >= n,
        transform(sequence(lit(1), size(tokens) - (n - 1)), k =>
          array_join(slice(tokens, k, lit(n)), " ")))
        .otherwise(typedLit(Seq.empty[String]))
    }
    spans
      .select(col("doc_id"), col("offset"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("offset"), explode(flatten(array(grams: _*))).as("gram"))
  }

  private def lambdaUpperGrams(twoGramKinds: Seq[String]): (Column, Column) = {
    val tokens = col("ts")
    val oneGrams = filter(tokens, t => GazetteerIO.upperStart(t))
    val twoGrams = when(isin(twoGramKinds) && size(tokens) >= 2,
      filter(transform(sequence(lit(1), size(tokens) - 1), k =>
        array_join(slice(tokens, k, lit(2)), " ")), g => GazetteerIO.upperStart(g)))
      .otherwise(typedLit(Seq.empty[String]))
    (oneGrams, twoGrams)
  }

  private def lambdaFusedMentions(spans: DataFrame, gazByKind: Seq[(String, DataFrame, String)],
      multiTokenKinds: Seq[String]): DataFrame = {
    val dim = gazByKind.map { case (kind, gaz, pred) =>
      gaz.select(lit(kind).as("gkind"), col("surface"), col("entity_id"), lit(pred).as("pred"))
    }.reduce(_ unionByName _)
    val (oneGrams, twoGrams) = lambdaUpperGrams(multiTokenKinds)
    spans
      .where(isin(gazByKind.map(_._1)))
      .select(col("doc_id"), col("kind"), col("offset"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("kind"), col("offset"),
        explode(concat(oneGrams, twoGrams)).as("gram"))
      .join(broadcast(dim), col("gram") === col("surface") && col("kind") === col("gkind"))
      .select(col("doc_id"), col("pred"), col("entity_id"), col("offset"))
  }

  /** The candidate explode with the lambda gram spelling; the title,
    * workload and company branches are the product's, so a difference can
    * only come from the grams.
    */
  private def lambdaCandidateGrams(spans: DataFrame, twoGramKinds: Seq[String],
      mentionKinds: Seq[String]): DataFrame = {
    val empty = expr("cast(array() as array<struct<ctype:string,payload:string>>)")
    val (one, two) = lambdaUpperGrams(twoGramKinds)
    def tagged(c: Column) = transform(c, g => struct(lit("gram").as("ctype"), g.as("payload")))
    val grams = when(isin(mentionKinds), concat(tagged(one), tagged(two))).otherwise(empty)
    // a non-gram candidate on every span: a null gram array must drop it
    val title = array(struct(lit("title").as("ctype"), col("text").as("payload")))
    spans
      .select(col("doc_id"), col("kind"), col("offset"), split(col("text"), " ").as("ts"),
        col("text"))
      .select(col("doc_id"), col("kind"), col("offset"), explode(concat(title, grams)).as("c"))
      .select(col("doc_id"), col("c.ctype").as("ctype"), col("c.payload").as("payload"),
        col("kind"), col("offset"))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  // ---- the checks ----

  test("upper-first byte rule == GazetteerIO.upperStart on generated tokens") {
    val toks = token.sample.toSeq ++ Seq("", "Ä", "É", "ä", "7", " ", "a", "Z", "[", "@", "🚀x")
    val extra = Gen.listOfN(300, Gen.oneOf(Gen.alphaNumStr, Gen.asciiStr, Gen.stringOf(
      Gen.oneOf('Ä', 'É', 'Ü', 'a', 'Z', '0', ' ', '中'))))
      .pureApply(Gen.Parameters.default, Seed(7L))
    val all = (toks ++ extra).distinct
    val s = spark
    import s.implicits._
    val byColumn = all.toDF("t").select(col("t"), GazetteerIO.upperStart(col("t")).as("u"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    for (t <- all)
      assert(TokenGramsAlgo.upperStart(UTF8String.fromString(t)) == byColumn(t),
        s"upperStart disagrees on '$t'")
  }

  test("unfiltered 1..maxN grams == the lambda spelling, row for row in order") {
    for (maxN <- 1 to 3) {
      val kernel = rows(Extractors.gramRows(spans, maxN))
      val lambda = rows(lambdaNgramRows(spans, maxN))
      assert(kernel == lambda, s"maxN=$maxN: first diff " +
        kernel.zipAll(lambda, null, null).find { case (a, b) => a != b })
    }
    // double, leading and trailing spaces split into empty tokens
    assert(rows(Extractors.gramRows(spans, 1)).exists(_.getString(2).isEmpty),
      "generated spans must contain empty tokens")
  }

  test("candidate grams == the lambda spelling: upper-first filter, 2-gram kinds, nulls") {
    // the pipeline's kinds, and an adversarial set: h1 both a mention and a
    // two-gram kind, footer in neither (kinds outside both sets, "" and
    // null kinds are generated too)
    for ((twoGram, mention) <- Seq(
        Seq("li") -> Seq("li", "p", "footer"),
        Seq("h1", "p") -> Seq("h1", "li", "p"))) {
      val kernel = Extractors.candidates(spans, twoGram, mention)
        .where(col("ctype") === "gram")
      val lambda = lambdaCandidateGrams(spans, twoGram, mention)
        .where(col("ctype") === "gram")
      assert(rows(kernel) == rows(lambda), s"kinds $twoGram / $mention")
      // a span whose text is null emits no candidate at all when its kind
      // is a mention kind (the null gram array nulls the whole concat)
      val nullMention = spans.where(col("text").isNull && isin(mention))
        .select("doc_id").collect().map(_.getString(0)).toSet
      assert(nullMention.nonEmpty)
      val emitted = Extractors.candidates(spans, twoGram, mention)
        .select("doc_id").collect().map(_.getString(0)).toSet
      assert((nullMention & emitted).isEmpty,
        s"null-text mention spans emitted candidates: ${(nullMention & emitted).take(3)}")
      assert(lambdaCandidateGrams(spans, twoGram, mention)
        .where(col("doc_id").isin(nullMention.toSeq: _*)).isEmpty)
    }
    val grams = Extractors.candidates(spans, Seq("li"), Seq("li", "p"))
      .where(col("ctype") === "gram").select("payload").collect().map(_.getString(0))
    assert(grams.exists(_.contains(" ")) && grams.exists(_.forall(_.isDigit)))
  }

  test("fused mentions == the lambda spelling over a gazetteer with non-ASCII surfaces") {
    val s = spark
    import s.implicits._
    def gaz(surfaces: String*) =
      surfaces.map(x => (s"E-$x", x, x)).toDF("entity_id", "surface", "canonical")
    val gazByKind = Seq(
      ("li", gaz("Java", "SAP", "SAP HANA", "Power BI", "Ärzte", "École", "80%"), "requiresSkill"),
      ("p", gaz("Java", "Über", "BI", "0"), "requiresLanguage"),
      ("footer", gaz("9000", "9000 St.", "St. Gallen", "AG"), "locatedIn"))
    for (multi <- Seq(Seq("li"), Seq("li", "footer"), Seq.empty[String])) {
      val kernel = rows(Extractors.mentionJoin(
        Extractors.candidates(spans, multi, gazByKind.map(_._1)), gazByKind)
        .select(col("doc_id"), col("pred"), col("entity_id"), col("offset")))
        .sortBy(_.toString)
      val lambda = rows(lambdaFusedMentions(spans, gazByKind, multi)).sortBy(_.toString)
      assert(kernel == lambda, s"multi-token kinds $multi")
      assert(kernel.nonEmpty)
    }
  }
}
