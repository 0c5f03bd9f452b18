package graft

import org.apache.spark.sql.DataFrame

import graft.kg.Pipeline
import graft.kg.extract.Extractors
import graft.kg.schema.{PostingDoc, Span}
import graft.kg.schema.Schemas.Pred

/** FIXTURES.md §4 — golden extraction fixtures, the stand-in for the
  * reference's JUnit suite (checkout empty, SURVEY.md §0): hand-written
  * postings with exact expected triples; P/R must be 1.0 on this set
  * (BASELINE.json:2 requires P/R >= 0.95 at corpus level).
  */
class GoldenFixturesSpec extends SparkTestBase {

  private def doc(id: String, spans: (String, String)*): PostingDoc =
    PostingDoc(id, spans.zipWithIndex.map { case ((kind, text), i) =>
      if (kind == "media") Span(kind, "", text, i) else Span(kind, text, "", i)
    })

  private val fixtures: Seq[(PostingDoc, Set[(String, String)])] = Seq(
    doc("fx-workload-range", ("p", "Pensum 80 - 100%")) ->
      Set((Pred.hasWorkload, "80-100")),
    doc("fx-workload-single", ("p", "Teilzeit 60%")) ->
      Set((Pred.hasWorkload, "60-60")),
    doc("fx-workload-reversed", ("p", "Pensum 100 - 80%")) ->
      Set((Pred.hasWorkload, "80-100")),
    doc("fx-title-gender", ("h1", "Software Engineer (m/w)")) ->
      Set((Pred.hasTitle, "T000")),
    doc("fx-title-fuzzy", ("h1", "Sofware Engineer")) ->
      Set((Pred.hasTitle, "T000")),
    doc("fx-title-variant", ("h1", "Projektleiter")) ->
      Set((Pred.hasTitle, "T002")),
    doc("fx-skills-li",
      ("li", "Java"), ("li", "Erfahrung mit Power BI"), ("media", "img://x/0"),
      ("li", "Kafka")) ->
      Set((Pred.requiresSkill, "S000"), (Pred.requiresSkill, "S026"),
        (Pred.requiresSkill, "S017")),
    doc("fx-lang", ("p", "Deutsch und Englisch verhandlungssicher")) ->
      Set((Pred.requiresLanguage, "LANG00"), (Pred.requiresLanguage, "LANG01")),
    doc("fx-location-plz", ("footer", "8005 Zuerich")) ->
      Set((Pred.locatedIn, "LOC00")),
    // PLZ-only footer still links (R9: locality + PLZ gazetteer)
    doc("fx-location-plz-only", ("footer", "Arbeitsort: 3011")) ->
      Set((Pred.locatedIn, "LOC01")),
    doc("fx-company", ("footer", "Acme AG")) ->
      Set((Pred.postedBy, "C00")),
    // frequency argmax: the footer surface seen most often wins
    doc("fx-company-freq", ("footer", "Finova GmbH"), ("footer", "Acme AG"),
      ("footer", "Finova GmbH")) ->
      Set((Pred.postedBy, "C07")),
    // gender-suffix variant "/-in" strips before linking
    doc("fx-title-in-suffix", ("h1", "Projektleiter/-in")) ->
      Set((Pred.hasTitle, "T002")),
    // workload needs a context keyword: a bare percentage is not a workload
    doc("fx-workload-no-keyword", ("p", "discount 80 - 100% today")) ->
      Set.empty,
    // several workload spans: each normalized form is emitted
    doc("fx-workload-multi", ("p", "Pensum 80 - 100%"), ("p", "Teilzeit 50%")) ->
      Set((Pred.hasWorkload, "80-100"), (Pred.hasWorkload, "50-50")),
    doc("fx-workload-vollzeit", ("p", "Vollzeit 100%")) ->
      Set((Pred.hasWorkload, "100-100")),
    doc("fx-media-only", ("media", "img://m/0"), ("media", "img://m/1")) ->
      Set.empty,
    doc("fx-empty") -> Set.empty,
    // noise li span of lowercase corpus vocab must NOT produce skills;
    // lowercase "java" must not match case-sensitive gazetteer "Java"
    doc("fx-noise", ("li", "the fast java sort table"), ("p", "no percent here")) ->
      Set.empty)

  test("golden fixtures: P/R == 1.0") {
    val s = spark
    import s.implicits._
    val postings = spark.createDataset(fixtures.map(_._1)).toDF()
    val got = Pipeline.allTriples(postings, Pipeline.defaultGazetteers(spark))
      .select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val expected = fixtures.flatMap { case (d, ts) =>
      ts.map { case (p, o) => (d.doc_id, p, o) }
    }.toSet
    val missing = expected -- got
    val spurious = got -- expected
    assert(missing.isEmpty, s"missing triples (recall < 1): $missing")
    assert(spurious.isEmpty, s"spurious triples (precision < 1): $spurious")
  }

  test("R3 scored titles: tag weight x position decides between head spans") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // h2 at position 0 (w=0.6) beats h1 at position 1 (w=1.0/2=0.5)
      doc("fx-sc-early-h2", ("h2", "Data Scientist"), ("h1", "Software Engineer")) ->
        "T001",
      // h1 first (w=1.0) beats the later h2 (w=0.6/2=0.3)
      doc("fx-sc-h1-first", ("h1", "Software Engineer"), ("h2", "Data Scientist")) ->
        "T000",
      // <title> tag alone (w=0.8), gender suffix stripped
      doc("fx-sc-title-tag", ("title", "Product Owner (m/w)")) -> "T005")
    val postings = spark.createDataset(docs.map(_._1)).toDF()
    val got = Pipeline.titleTriplesScored(
      graft.kg.extract.Extractors.textSpans(postings),
      graft.kg.io.Dictionaries.titlesDf(spark))
      .select("doc_id", "obj").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == docs.map { case (d, t) => d.doc_id -> t }.toMap)
  }

  test("R6 proficiency qualifiers attach to the mentioned language") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      doc("fx-prof-fluent", ("p", "Franzoesisch fliessend")) ->
        Set("LANG02=fliessend"),
      doc("fx-prof-native", ("p", "Deutsch Muttersprache"), ("p", "Englisch")) ->
        Set("LANG00=Muttersprache"), // unqualified Englisch span: no triple
      // each language resolves to ITS OWN (nearest-following) qualifier
      doc("fx-prof-mixed",
        ("p", "Englisch Grundkenntnisse und Deutsch verhandlungssicher")) ->
        Set("LANG01=Grundkenntnisse", "LANG00=verhandlungssicher"),
      // a trailing qualifier covers every language listed before it
      doc("fx-prof-shared", ("p", "Deutsch und Englisch verhandlungssicher")) ->
        Set("LANG00=verhandlungssicher", "LANG01=verhandlungssicher"),
      doc("fx-prof-none", ("p", "Deutsch und Englisch")) -> Set.empty[String])
    val postings = spark.createDataset(docs.map(_._1)).toDF()
    val got = Pipeline.languageProficiencyTriples(
      graft.kg.extract.Extractors.textSpans(postings),
      graft.kg.io.Dictionaries.languagesDf(spark))
      .select("doc_id", "obj").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    val expected = docs.collect { case (d, objs) if objs.nonEmpty => d.doc_id -> objs }.toMap
    assert(got == expected)
  }

  test("R10 levenshtein title path picks the same winners as the JW path") {
    val spans = graft.kg.extract.Extractors.textSpans(
      graft.kg.io.SyntheticCorpus.postings(spark, "/root/testdata/sf0.001"))
    val gaz = graft.kg.io.Dictionaries.titlesDf(spark)
    def winners(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "obj").collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(winners(Pipeline.titleTriplesLev(spans, gaz)) ==
      winners(Pipeline.titleTriples(spans, gaz)))
  }

  /** The six per-predicate entries, each over the spans on its own (no
    * pin), unioned and deduplicated as [[Pipeline.allTriples]] is.
    */
  private def perPredicate(postings: DataFrame, gaz: Pipeline.Gazetteers): DataFrame = {
    val spans = Extractors.textSpans(postings)
    Pipeline.dedupTriples(Seq(
      Pipeline.titleTriples(spans, gaz.titles),
      Pipeline.workloadTriples(spans),
      Pipeline.companyTriples(spans, gaz.companies),
      Pipeline.skillTriples(spans, gaz.skills),
      Pipeline.languageTriples(spans, gaz.languages),
      Pipeline.locationTriples(spans, gaz.locations)).reduce(_ unionByName _)
      .withColumnRenamed("doc_id", "subj"))
  }

  test("single-pass pipeline == multi-pass reference wiring") {
    val postings = graft.kg.io.SyntheticCorpus.postings(spark, "/root/testdata/sf0.001")
    val gaz = Pipeline.defaultGazetteers(spark)
    def norm(df: DataFrame) =
      df.select("subj", "pred", "obj", "score", "src_offset").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3), r.getInt(4)))
        .toSet
    val single = norm(Pipeline.allTriples(postings, gaz))
    val multi = norm(perPredicate(postings, gaz))
    assert(single == multi,
      s"missing=${(multi -- single).take(5)} spurious=${(single -- multi).take(5)}")
  }

  test("single-pass == multi-pass on adversarial GENERATED corpora") {
    val s = spark
    import s.implicits._
    // seeded random docs that hit every extractor branch in arbitrary
    // combinations: typos, gender suffixes, multi-token surfaces, PLZ,
    // workload forms, hot keys, unicode, empties, media interleaving
    val texts = Seq(
      "", "a", "Sofware Engineer", "Software Engineer (m/w)", "Projektleiter/-in",
      "Erfahrung mit Power BI", "SAP HANA und Java", "Java", "9000 St. Gallen",
      "8005", "Pensum 80 - 100%", "Teilzeit 60%", "Vollzeit 100% Workload",
      "Acme AG", "Finova GmbH", "Deutsch und Englisch verhandlungssicher",
      "Franzoesisch fliessend", "unicode √ü√§√∂ 中文 🚀 Java", "the fast java key",
      "Machine Lerning Engineer", "Kappa Informatik AG")
    val rnd = new scala.util.Random(4242)
    val docs = (0 until 150).map { i =>
      val spans = (0 until rnd.nextInt(12)).map { j =>
        if (rnd.nextInt(4) == 0) graft.kg.schema.Span("media", "", s"img://$i/$j", j)
        else graft.kg.schema.Span(Seq("h1", "p", "li", "footer")(rnd.nextInt(4)),
          texts(rnd.nextInt(texts.length)), "", j)
      }
      graft.kg.schema.PostingDoc(s"adv-$i", spans)
    }
    val postings = spark.createDataset(docs).toDF()
    val gaz = Pipeline.defaultGazetteers(spark)
    def norm(df: DataFrame) =
      df.select("subj", "pred", "obj", "score", "src_offset").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3), r.getInt(4)))
        .toSet
    val single = norm(Pipeline.allTriples(postings, gaz))
    val multi = norm(perPredicate(postings, gaz))
    assert(single == multi,
      s"missing=${(multi -- single).take(5)} spurious=${(single -- multi).take(5)}")
    assert(single.nonEmpty)
  }

  test("media-only and empty docs survive with spans untouched") {
    val s = spark
    import s.implicits._
    val postings = spark.createDataset(fixtures.map(_._1)).toDF()
    // extraction must not mutate the input table's span arrays (the pipeline
    // only derives from them) — re-read and compare
    val before = fixtures.map(d => d._1.doc_id -> d._1.spans).toMap
    val after = postings.as[PostingDoc].collect().map(d => d.doc_id -> d.spans).toMap
    assert(before == after)
  }
}
