package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of driver code made Spark do. `jobs` has one line per
  * job: its description when the code set one (file listings do), else
  * the call site of the SQL execution that started it. `plans` holds
  * each SQL execution's physical plan text, as the UI and event logs
  * show it.
  */
final case class JobLog(jobs: Seq[String], plans: Seq[String])

object JobLog {
  def during(spark: SparkSession)(body: => Unit): JobLog = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val executions = TrieMap.empty[String, SparkListenerSQLExecutionStart]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.put(s.executionId.toString, s)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add(prop("spark.job.description").getOrElse(prop("spark.sql.execution.id") match {
          case Some(id) => s"sql $id: ${executions.get(id).fold("?")(_.description)}"
          case None => s"outside any SQL execution: ${e.stageInfos.map(_.name).mkString(", ")}"
        }))
      }
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    JobLog(jobs.asScala.toSeq, executions.values.map(_.physicalPlanDescription).toSeq)
  }
}
