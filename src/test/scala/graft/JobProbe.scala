package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Records the Spark jobs one block of code starts. */
object JobProbe {

  /** One job: its call site, and how many tasks its final (result) stage
    * runs. A job of a SQL execution has the call site of the thread that
    * started the execution: adaptive execution submits a query's stages
    * from its own threads, whose stacks say nothing of the caller.
    */
  final case class Job(site: String, resultTasks: Int) {
    /** The innermost `graft.` frame of the job's call site. */
    def firstProgramFrame: String =
      site.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")
  }

  /** Runs `body` under a fresh job group and returns its result with the
    * jobs it started, in start order. A marker job in a second group is
    * the barrier that proves every earlier job's event was delivered.
    */
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val group = s"graft-jobprobe-${java.util.UUID.randomUUID()}"
    val marker = group + "-marker"
    val jobs = new ConcurrentLinkedQueue[Job]()
    val executions = new ConcurrentHashMap[String, String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId.toString, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` =>
            val site = Option(e.properties.getProperty("spark.sql.execution.id"))
              .flatMap(id => Option(executions.get(id)))
              .getOrElse(e.stageInfos.map(_.details).mkString("\n"))
            jobs.add(Job(site, e.stageInfos.maxBy(_.stageId).numTasks))
          case `marker` => markerSeen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job probe")
      val result = body
      sc.setJobGroup(marker, "listener barrier")
      spark.range(1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener barrier not reached")
      (result, jobs.asScala.toList)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
