package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The Spark jobs started and the stages completed while a block ran. */
final case class JobRecord(jobs: Int, stages: Seq[JobRecord.Stage])

/** Counts what a block costs in jobs and stages, for the job-count and
  * task-count assertions: drains the listener bus, so no earlier action's
  * events land in the count, records job starts and completed stages while
  * the block runs, drains again, so the block's tail is in, and removes
  * its listener.
  */
object JobRecord {
  final case class Stage(parentIds: Seq[Int], numTasks: Int)

  def apply[T](spark: SparkSession)(body: => T): (T, JobRecord) = {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(Stage(e.stageInfo.parentIds, e.stageInfo.numTasks))
    }
    Bridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Bridge.drainListeners(spark)
      (out, JobRecord(jobs.get, stages.asScala.toSeq))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
