package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.storage.StorageLevel

/** The one way this library materializes a relation that several consumers
  * read: an eager DISK_ONLY `localCheckpoint`, and the only
  * `localCheckpoint` call in the library. The rule has no size gate: a
  * relation read by more than one consumer (two actions, both sides of a
  * self-join, every round of an iterated loop) is pinned at every input
  * size. The exceptions are named in `IncrementalDedup.foldShard`'s pin
  * census: a relation whose consumers all sit in one action behind one
  * reused exchange (there the eager job buys nothing), narrow derivations
  * of pins, and one shard-sized join re-run by a single later action.
  *
  *  - Why a lineage-cutting checkpoint and not `persist`: the result is a
  *    LogicalRDD, so every consumer's plan (and task closure) starts at the
  *    checkpoint instead of carrying the whole derivation, and iterated
  *    loops do not grow their plans round over round. The blocks are
  *    released by the ContextCleaner once the relation is unreachable, so
  *    there is no caller-side `unpersist`/`clearCache` contract
  *    (CacheHygieneSpec asserts the cache manager stays empty). The
  *    physical partitioning is kept, so downstream aggs and joins keep the
  *    clustering they relied on.
  *  - Why DISK_ONLY: a pinned relation can exceed the storage-memory pool
  *    (a 1M-doc corpus holds ~47M shingle rows), and a MEMORY_AND_DISK
  *    checkpoint would compete with join/agg execution memory. Executor-
  *    local disk costs about one extra shuffle write, and the OS page cache
  *    serves the re-reads.
  *  - Why AQE ReuseExchange is not enough: it cannot cross actions, and
  *    within one action it was measured NOT reusing the dedup shingle
  *    exchange — on a 600k-doc corpus the identical 0.41 GB exchange was
  *    written three times (both verify sides and the signatures).
  *  - Cluster caveat: local checkpoint blocks live on the executor that
  *    computed them, so a lost executor loses them and the query fails
  *    instead of recomputing. On a cluster with executor churn this call
  *    becomes a reliable `checkpoint` to a fault-tolerant directory; no
  *    caller needs to change.
  */
private[graft] object Pin {
  def apply(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, StorageLevel.DISK_ONLY)

  /** [[apply]], plus aggregate `metrics` over the pinned rows computed by
    * the pin's own job (`Dataset.observe`), for a test that would otherwise
    * be one more action: [[Fixpoint]]'s per-round convergence test (the
    * loop of every iterative operator) and the dedup fold's shard guard. The
    * observation sits on top of `df`, so it is evaluated in the pin's
    * result stage and merges each partition's update once. Returns the
    * pinned relation and the metrics row (fields in `metrics` order). An
    * aggregate over zero rows can come back null (e.g. `sum`, never
    * `count`).
    *
    * The row reaches the driver through the session's asynchronous
    * listener bus after the job ends. A lost event (a full bus queue
    * drops events) would leave the wait with nothing to wait for, so it
    * is bounded: past [[ObservedTimeout]] it throws, naming `what`.
    */
  def observed(what: String, df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val pinned = apply(df.observe(obs, metrics.head, metrics.tail: _*))
    val row = try Await.result(obs.future, ObservedTimeout) catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"$what: the metrics observed on its pin job did not arrive within " +
          s"$ObservedTimeout of the job's end (lost listener-bus event?)")
    }
    (pinned, row)
  }

  val ObservedTimeout: FiniteDuration = 5.minutes
}
