package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.datasources.{FileScanRDD, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Clock-free cost of a block of code: the Spark jobs it submits, the
  * bytes their result tasks return, and the data files its queries
  * scan.
  */
object JobTrace {
  /** `callSites` holds one call stack per job (its SQL execution's, then
    * its own), so a spec can tell which code path submitted it.
    * `files` holds the base names of the files behind every file
    * relation of each query `body` ran, and of the file scans under
    * every RDD a query reads as a frame (a lineage cut such as
    * `spark.createDataFrame(df.rdd, schema)`): what the frames'
    * `inputFiles` name, plus what a cut hides from them.
    */
  final case class Traced(jobs: Int, resultBytes: Long, files: Set[String], callSites: Seq[String])

  private def baseName(f: String): String = new org.apache.hadoop.fs.Path(f).getName

  private def rddFiles(rdd: RDD[_]): Seq[String] = rdd match {
    case scan: FileScanRDD => scan.filePartitions.flatMap(_.files.map(_.toPath.getName))
    case _ => rdd.dependencies.flatMap(d => rddFiles(d.rdd))
  }

  private def planFiles(plan: LogicalPlan): Seq[String] = plan.collectLeaves().flatMap {
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => fs.inputFiles.toSeq.map(baseName)
      case _ => Nil
    }
    case r: LogicalRDD => rddFiles(r.rdd)
    case _ => Nil
  }

  private val TagKey = "graft.spec.counted"

  /** Jobs `body` submits and the bytes their result tasks shipped to
    * the driver: every job the listener sees between two marker jobs,
    * from whichever thread submitted it (DML runs its DV and append
    * writes on pool threads, which a thread-local tag does not reach
    * reliably). Specs run one at a time in the test JVM, so nothing
    * else submits jobs in between. The bus is asynchronous but
    * ordered: once the closing marker is seen, every earlier event has
    * been delivered.
    */
  def traced(spark: SparkSession)(body: => Any): Traced = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (open, close) = (s"open-$id", s"close-$id")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int], String, String)]()
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val bytes = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val files = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        planFiles(qe.analyzed).foreach(files.add)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        planFiles(qe.analyzed).foreach(files.add)
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop(TagKey).getOrElse(""), e.stageIds,
          prop("spark.sql.execution.id").getOrElse(""), e.stageInfos.map(_.details).mkString("\n")))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.put(s.executionId.toString, s.details)
        case _ => ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && e.taskMetrics != null)
          bytes.merge(e.stageId, e.taskMetrics.resultSize, (a, b) => a + b)
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(TagKey, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(TagKey, null)
    }
    // the query listener shares the job listener's queue, so the
    // closing marker also orders every query event before it
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    try {
      marker(open)
      body
      marker(close)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(_._1 == close) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.asScala.exists(_._1 == close), "the listener bus never delivered the marker job")
      val within = jobs.asScala.toSeq.dropWhile(_._1 != open).drop(1).takeWhile(_._1 != close)
      Traced(within.size, within.flatMap(_._2).map(s => bytes.getOrDefault(s, 0L).longValue).sum,
        files.asScala.toSet,
        within.map { case (_, _, exec, own) => executions.getOrDefault(exec, "") + "\n" + own })
    } finally { spark.listenerManager.unregister(queries); sc.removeSparkListener(listener) }
  }
}
