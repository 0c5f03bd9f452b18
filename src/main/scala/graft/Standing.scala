package graft

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.graft.Bridge

import graft.kg.emit.TableIO

/** The one cache of the library's STANDING tables: artifacts built once per
  * JVM and then read by many queries (the ANN indexes, the committed dedup
  * state and triple store, the bucketed edge tables, the derived postings
  * table, the gazetteer TSV). At production these are tables a pipeline
  * maintains across runs; in-JVM each is built on the first lookup of its
  * key, into a fresh temp directory, and served from there afterwards.
  *
  * One revalidation rule: every later lookup re-checks `valid` over the
  * cached directory (by default [[committed]], `<dir>/_SUCCESS` exists)
  * and rebuilds into a NEW directory when the check fails — a long-lived
  * JVM outlives tmp cleaners, and a dead path must never be returned. The
  * lookup that drops a failed entry deletes what is left of its
  * directory, and every directory built here is deleted when the JVM
  * exits ([[Bridge.tempDir]]), so no run leaves its tables behind.
  *
  * `site` names the builder: it prefixes the key (so two sites never share
  * an entry) and the temp directory. A site's key carries every input that
  * changes the artifact (tag, parameters, layout version), so a directory
  * built by older code or other parameters is never reused. Concurrent
  * first lookups of one key may each build; each gets a valid result and
  * the last one stays cached.
  */
private[graft] object Standing {
  private val tables = TrieMap.empty[String, (String, Any)]

  /** `build(dir)` writes the artifact into the fresh `dir` and returns what
    * the site hands its callers; that value is cached with the directory.
    */
  def apply[A](site: String, key: String, valid: String => Boolean = committed)(
      build: String => A): A = {
    val k = s"$site/$key"
    tables.get(k) match {
      case Some((dir, result)) if valid(dir) => result.asInstanceOf[A]
      case failed =>
        // only the lookup that unmaps the failed entry deletes its directory
        failed.foreach(e => if (tables.remove(k, e)) TableIO.deleteTree(e._1))
        val dir = Bridge.tempDir(s"graft-$site")
        val built = build(dir)
        tables.put(k, (dir, built))
        built
    }
  }

  /** A Spark write into `dir` committed: its `_SUCCESS` marker exists. */
  def committed(dir: String): Boolean = Files.exists(Paths.get(dir, "_SUCCESS"))
}
