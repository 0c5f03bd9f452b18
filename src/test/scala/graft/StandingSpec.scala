package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.kg.emit.TableIO
import graft.kg.graph.GraphOps
import graft.kg.io.{Dictionaries, GazetteerIO, SyntheticCorpus}

/** The standing-table cache: one build per key, one revalidation rule (a
  * lookup whose directory is gone rebuilds into a fresh one and removes the
  * one it abandons), and the two lookups that had no check before it.
  */
class StandingSpec extends SparkTestBase {

  /** A builder that marks its directory committed and counts its runs. */
  private def marker(builds: AtomicInteger)(dir: String): String = {
    Files.createFile(Paths.get(dir, "_SUCCESS"))
    builds.incrementAndGet()
    dir
  }

  test("a key builds once, and later lookups return the cached directory") {
    val builds = new AtomicInteger()
    val key = s"once-${System.nanoTime()}"
    val first = Standing("standing-spec", key)(marker(builds))
    val again = Standing("standing-spec", key)(marker(builds))
    assert(again === first)
    assert(builds.get === 1)
  }

  test("a deleted directory is rebuilt into a fresh directory and returned") {
    val builds = new AtomicInteger()
    val key = s"gone-${System.nanoTime()}"
    val first = Standing("standing-spec", key)(marker(builds))
    TableIO.deleteTree(first)
    val fresh = Standing("standing-spec", key)(marker(builds))
    assert(fresh !== first)
    assert(Standing.committed(fresh))
    assert(builds.get === 2)
    // the rebuilt entry is the cached one from then on
    assert(Standing("standing-spec", key)(marker(builds)) === fresh)
    assert(builds.get === 2)
  }

  test("a failed check removes the directory it abandons") {
    val builds = new AtomicInteger()
    val key = s"failed-${System.nanoTime()}"
    val first = Standing("standing-spec", key)(marker(builds))
    Files.write(Paths.get(first, "part-0"), Array[Byte](1, 2, 3))
    Files.delete(Paths.get(first, "_SUCCESS"))
    val fresh = Standing("standing-spec", key)(marker(builds))
    assert(fresh !== first)
    assert(!Files.exists(Paths.get(first)), s"$first was left behind")
    assert(Standing.committed(fresh))
  }

  test("distinct keys, and one key under distinct sites, do not collide") {
    val builds = new AtomicInteger()
    val key = s"k-${System.nanoTime()}"
    val a = Standing("standing-spec", s"$key/a")(marker(builds))
    val b = Standing("standing-spec", s"$key/b")(marker(builds))
    val other = Standing("standing-spec-other", s"$key/a")(marker(builds))
    assert(Set(a, b, other).size === 3)
    assert(builds.get === 3)
  }

  test("postings and the skills TSV stay readable after their directory is deleted") {
    // a private documents table, so no other suite's postings are touched
    val sfDir = Files.createTempDirectory("graft-standing-sf").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
      .write.parquet(s"$sfDir/documents.parquet")
    val postings = SyntheticCorpus.materializedPostings(spark, sfDir)
    val n = postings.count()
    TableIO.deleteTree(
      Paths.get(new java.net.URI(postings.inputFiles.head)).getParent.toString)
    assert(SyntheticCorpus.materializedPostings(spark, sfDir).count() === n)

    val tsv = GazetteerIO.materializedSkillsTsv()
    TableIO.deleteTree(Paths.get(tsv).getParent.toString)
    val rebuilt = GazetteerIO.materializedSkillsTsv()
    assert(Files.exists(Paths.get(rebuilt)))
    assert(GazetteerIO.fromText(spark, rebuilt).count() === Dictionaries.gazSkills.size)
  }

  test("an edge table whose files are gone is rebuilt, though its catalog entry stays") {
    import spark.implicits._
    val triples = Seq(("D1", "requiresSkill", "A"), ("D1", "requiresSkill", "B"),
      ("D2", "requiresSkill", "B"), ("D2", "requiresSkill", "C"))
      .toDF("subj", "pred", "obj")
    val tag = s"standing-spec-${System.nanoTime()}"
    val tbl = GraphOps.materializedEdgeTable(spark, triples, tag = tag, buckets = 2)
    val edges = spark.table(tbl).count()
    val location = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(tbl)).location
    TableIO.deleteTree(Paths.get(location).getParent.toString)
    assert(spark.catalog.tableExists(tbl))
    val again = GraphOps.materializedEdgeTable(spark, triples, tag = tag, buckets = 2)
    assert(again === tbl)
    assert(spark.table(again).count() === edges)
  }
}
