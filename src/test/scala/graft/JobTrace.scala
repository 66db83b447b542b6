package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Clock-free cost of a block of driver code: the Spark jobs it submits
  * and the bytes their result tasks ship to the driver.
  */
object JobTrace {
  final case class Traced(jobs: Int, resultBytes: Long)

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
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    val bytes = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse(""),
          e.stageIds))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && e.taskMetrics != null)
          bytes.merge(e.stageId, e.taskMetrics.resultSize, (a, b) => a + b)
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(TagKey, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(TagKey, null)
    }
    sc.addSparkListener(listener)
    try {
      marker(open)
      body
      marker(close)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(_._1 == close) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.asScala.exists(_._1 == close), "the listener bus never delivered the marker job")
      val within = jobs.asScala.toSeq.dropWhile(_._1 != open).drop(1).takeWhile(_._1 != close)
      Traced(within.size, within.flatMap(_._2).map(s => bytes.getOrDefault(s, 0L).longValue).sum)
    } finally sc.removeSparkListener(listener)
  }
}
