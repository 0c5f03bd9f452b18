package graft

import java.nio.file.{Files, Paths}

import graft.kg.emit.TableIO

/** `TableIO`'s filesystem metadata paths close what they open: a commit,
  * a read and a cleanup each list directories, and an unclosed listing
  * holds a directory descriptor that the garbage collector does not free.
  */
class TableIOSpec extends SparkTestBase {

  private val fdDir = Paths.get("/proc/self/fd")

  private def openFds(): Int = fdDir.toFile.list().length

  test("committed, readTriples and deleteTree leave no descriptor open") {
    assume(Files.isDirectory(fdDir), "needs /proc/self/fd")
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tableio-fd").toString
    TableIO.writeTriplesDeduped(spark,
      Seq(("D1", "requiresSkill", "Java", 1.0, 0), ("D2", "hasTitle", "T1", 1.0, 0))
        .toDF("subj", "pred", "obj", "score", "src_offset"), root, buckets = 2)
    assert(TableIO.committed(root).size === 2)
    val before = openFds()
    (1 to 200).foreach(_ => TableIO.committed(root))
    (1 to 200).foreach(_ => TableIO.readTriples(spark, root))
    (1 to 100).foreach { i =>
      val tree = Files.createTempDirectory("graft-tableio-rm")
      Files.createDirectories(tree.resolve(s"a/b$i"))
      Files.writeString(tree.resolve(s"a/b$i/f"), "x")
      TableIO.deleteTree(tree.toString)
      assert(!Files.exists(tree))
    }
    val grown = openFds() - before
    info(s"open descriptors grew by $grown")
    // 500 calls that each leaked at least one descriptor would add >= 500
    assert(grown < 50, s"$grown descriptors stayed open after 500 TableIO calls")
    TableIO.deleteTree(root)
    assert(!Files.exists(Paths.get(root)))
  }
}
