package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.kg.expr.{TokenGrams, TokenGramsAlgo}
import graft.kg.extract.Extractors
import graft.kg.io.GazetteerIO
import graft.ops.Dedup

/** The codegen'd gram kernel (`kg/expr/TokenGrams`) is result-equal to the
  * `transform`/`filter`/`zip_with` lambda spellings it replaced, on
  * generated texts: double, leading and trailing spaces, 0-2 token texts,
  * digits, non-ASCII capitals, null text, and kinds outside the mention and
  * two-gram kinds. The lambda spellings below are the reference, kept
  * verbatim: the R4 grams, the dedup shingles and passage windows, and the
  * text operators' bigrams.
  */
class GramKernelSpec extends SparkTestBase {

  private val token: Gen[String] = Gen.oneOf(
    "java", "und", "mit", "über", "x", "Java", "SAP", "HANA", "Power", "BI", "St.",
    "Gallen", "Ärzte", "École", "Über", "9000", "80%", "0", "(m/w)", "AG", "-in")
  private val sep: Gen[String] = Gen.frequency(6 -> " ", 2 -> "  ", 1 -> "   ")
  private def text(maxTokens: Int): Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    12 -> (for {
      n <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.const(1), 8 -> Gen.choose(2, maxTokens))
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
    val gen = Gen.listOfN(800, Gen.zip(kind, text(7)))
    val rows = gen.pureApply(Gen.Parameters.default, Seed(20261019L)).zipWithIndex.map {
      case ((k, t), i) => Row(f"g$i%04d", k.orNull, t.orNull, i % 7)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("doc_id", StringType), StructField("kind", StringType),
      StructField("text", StringType), StructField("offset", IntegerType))))
  }

  /** 600 generated documents (doc_id, text) of up to 20 tokens, so 8-token
    * windows occur; every 7th repeats an earlier text (exact copies).
    */
  private lazy val docs: DataFrame = {
    val texts = Gen.listOfN(600, text(20)).pureApply(Gen.Parameters.default, Seed(20261020L))
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, (if (i % 7 == 6) texts(i / 2) else t).orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
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

  /** `Dedup.grams`: the shingles, shingle sets and decision base. */
  private def lambdaDedupGrams(n: Int): Column =
    when(size(col("ts")) >= n, expr(
      s"transform(sequence(1, size(ts) - ${n - 1}), " +
        s"i -> array_join(slice(ts, i, $n), ' '))"))
      .otherwise(expr("cast(array() as array<string>)"))

  /** The bigrams of `TextOps.repetition`, `gopherFilter` and `bpePairs`
    * (one spelling, written out three times).
    */
  private def lambdaTextBigrams: Column =
    when(size(col("ts")) >= 2, expr(
      "transform(sequence(1, size(ts) - 1), i -> array_join(slice(ts, i, 2), ' '))"))
      .otherwise(expr("cast(array() as array<string>)"))

  /** The bigrams of `TextOps.lmQuality`. */
  private def lambdaLmBigrams: Column = expr(
    "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1), " +
      "(a, b) -> concat(a, ' ', b))")

  /** The window fingerprints of `Dedup.duplicatePassages`. */
  private def lambdaPassageWindows(corpus: DataFrame, w: Int): DataFrame = {
    val winHashes = when(size(col("ts")) >= w, expr(
      s"""transform(sequence(1, size(ts) - ${w - 1}),
         |  i -> cast(conv(substring(md5(array_join(slice(ts, i, $w), ' ')),
         |                 1, 15), 16, 10) as bigint))""".stripMargin))
      .otherwise(expr("cast(array() as array<bigint>)"))
    corpus
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), posexplode(winHashes).as(Seq("pos", "h")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("start"), col("h"))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private lazy val docTokens: DataFrame =
    docs.select(col("doc_id"), col("text"), split(col("text"), " ").as("ts"))

  private def nTokens(text: String): Int = text.split(" ", -1).length

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

  test("exact n-grams == the Dedup.grams lambda for n = 2, 3, 5, 8, row for row") {
    for (n <- Seq(2, 3, 5, 8)) {
      val got = rows(docTokens.select(col("doc_id"), col("text"),
        TokenGrams.exact(col("ts"), n).as("k"), lambdaDedupGrams(n).as("l")))
      for (r <- got) {
        if (r.isNullAt(1))
          // null text: the kernel gives null, the lambda an empty array; an
          // explode drops both, and no null text reaches an unexploded set
          assert(r.isNullAt(2) && r.getSeq[String](3).isEmpty, s"n=$n doc ${r.getLong(0)}")
        else
          assert(r.getSeq[String](2) == r.getSeq[String](3),
            s"n=$n doc ${r.getLong(0)} '${r.getString(1)}'")
      }
      assert(got.exists(r => !r.isNullAt(1) && r.getSeq[String](2).isEmpty), s"n=$n: no short text")
      assert(got.exists(r => !r.isNullAt(1) && r.getSeq[String](2).nonEmpty), s"n=$n: no gram")
    }
    // the distinct shingle relation, as a set per doc
    for (n <- Seq(3, 5)) {
      val lambda = docTokens.select(col("doc_id"), explode(lambdaDedupGrams(n)).as("s")).distinct()
      assert(rows(Dedup.shingles(docs, n)).sortBy(_.toString) == rows(lambda).sortBy(_.toString),
        s"shingles n=$n")
    }
  }

  test("text bigrams == the repetition/gopher/bpe and lmQuality lambdas, row for row") {
    val got = rows(docTokens.select(col("text"), TokenGrams.exact(col("ts"), 2).as("k"),
      lambdaTextBigrams.as("t"), lambdaLmBigrams.as("z")))
    for (r <- got) {
      if (r.isNullAt(0))
        assert(r.isNullAt(1) && r.getSeq[String](2).isEmpty && r.isNullAt(3))
      else {
        val k = r.getSeq[String](1)
        assert(k == r.getSeq[String](2) && k == r.getSeq[String](3), s"'${r.getString(0)}'")
      }
    }
    assert(got.exists(r => !r.isNullAt(0) && r.getSeq[String](1).exists(_.startsWith(" "))),
      "generated texts must yield bigrams with an empty token")
  }

  test("duplicatePassages' (start, hash) windows == the lambda spelling, row for row") {
    for (w <- Seq(2, 8)) {
      val kernel = rows(Dedup.passageWindows(docs, w))
      assert(kernel == rows(lambdaPassageWindows(docs, w)), s"w=$w")
      assert(kernel.nonEmpty)
    }
  }

  test("shingle sets are empty, not null, for non-null text under 3 tokens") {
    val texts = rows(docs).map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val arr = rows(Dedup.shingleArrays(docs.where(col("text").isNotNull)))
    assert(arr.size == texts.count(_._2.nonEmpty))
    for (r <- arr) {
      assert(!r.isNullAt(1), s"doc ${r.getLong(0)}: null shingle set")
      assert(r.getSeq[String](1).isEmpty == (nTokens(texts(r.getLong(0)).get) < 3))
    }
    assert(arr.exists(_.getSeq[String](1).isEmpty))
    // the decision base drops null text, so every representative's set (the
    // stored n_shingles = size(ss)) is an array, empty exactly when the doc
    // has no shingles
    val base = rows(Dedup.decisionBase(docs).select("doc_id", "rep_id", "has_sh", "ss"))
    assert(base.map(_.getLong(0)).toSet == texts.collect { case (d, Some(_)) => d }.toSet)
    val reps = base.filter(r => r.getLong(0) == r.getLong(1))
    assert(reps.size < base.size, "generated docs must contain exact copies")
    for (r <- reps) {
      assert(!r.isNullAt(3), s"rep ${r.getLong(0)}: null shingle set")
      assert(r.getSeq[String](3).isEmpty == !r.getBoolean(2))
    }
  }
}
