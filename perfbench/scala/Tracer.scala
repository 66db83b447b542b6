package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Physical-plan walks shared by the tracer and the lake probes. */
object Plans {
  /** Every node of a plan, through AQE wrappers, query stages, command
    * results and subqueries; a reused exchange is visited once.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = {
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case _: ReusedExchangeExec => return
        case _ =>
      }
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  def metric(n: SparkPlan, name: String): Long =
    n.metrics.get(name).map(_.value).getOrElse(0L)

  /** Files the executed scan nodes of `df` read. */
  def scanFiles(df: DataFrame): Double =
    nodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => metric(s, "numFiles")
    }.sum.toDouble
}

/** In-memory trace of a run: a SparkListener and a QueryExecutionListener
  * that the benchmark registers itself. Jobs carry the op id through a
  * local property; query executions are placed in the op whose interval
  * holds their planning start. Spans are written as JSON at the end.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = ArrayBuffer.empty[Job]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stages = mutable.Map.empty[String, ArrayBuffer[Stage]]
  private val resultBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val qes = ArrayBuffer.empty[Qe]
  @volatile private var lastEvent = System.currentTimeMillis()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits until every started job has ended and the bus has been quiet. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    def busy = synchronized(jobs.exists(_.end < 0)) ||
      System.currentTimeMillis() - lastEvent < 500
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEvent = System.currentTimeMillis()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    jobs += Job(op, e.jobId, e.time, -1L, e.stageIds)
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEvent = System.currentTimeMillis()
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEvent = System.currentTimeMillis()
    val i = e.stageInfo
    val m = i.taskMetrics
    val s = Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, m.executorRunTime, m.executorCpuTime / 1e6,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
    stages.getOrElseUpdate(stageOp.getOrElse(i.stageId, ""), ArrayBuffer.empty) += s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskType == "ResultTask" && e.taskMetrics != null) synchronized {
      lastEvent = System.currentTimeMillis()
      resultBytes(stageOp.getOrElse(e.stageId, "")) += e.taskMetrics.resultSize
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val bcasts = Plans.nodes(qe.executedPlan).collect { case b: BroadcastExchangeExec => b }
    val q = Qe(start, planMs,
      bcasts.map(b => Plans.metric(b, "collectTime") + Plans.metric(b, "buildTime") +
        Plans.metric(b, "broadcastTime")).sum,
      bcasts.map(Plans.metric(_, "dataSize")).sum)
    synchronized { lastEvent = System.currentTimeMillis(); qes += q }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Per-op counters and the span tree (op → job → stage) as JSON. */
  def toJson(ops: Seq[(String, String, String, Long, Long)]): Map[String, Any] = synchronized {
    val byOp = jobs.groupBy(_.op)
    val opRows = ops.map { case (id, kind, name, start, end) =>
      val st = stages.getOrElse(id, ArrayBuffer.empty).toSeq
      val q = qes.filter(x => x.start >= start && x.start <= end).toSeq
      Map(
        "op" -> id, "kind" -> kind, "name" -> name, "start" -> start, "end" -> end,
        "jobs" -> byOp.get(id).map(_.size).getOrElse(0),
        "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
        "busy_ms" -> unionMs(st.map(s => (s.start max start, s.end min end))),
        "exec_run_ms" -> st.map(_.runMs).sum, "exec_cpu_ms" -> st.map(_.cpuMs).sum,
        "shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
        "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
        "spill_bytes" -> st.map(_.spill).sum,
        "result_bytes" -> resultBytes(id),
        "plan_ms" -> q.map(_.planMs).sum, "broadcast_build_ms" -> q.map(_.bcastMs).sum,
        "broadcast_bytes" -> q.map(_.bcastBytes).sum)
    }
    val spans = ops.flatMap { case (id, kind, name, start, end) =>
      Map("span" -> id, "name" -> s"$kind:$name", "start" -> start, "end" -> end,
        "parent" -> null, "op" -> id) +:
        byOp.getOrElse(id, ArrayBuffer.empty).toSeq.flatMap { j =>
          val js = s"$id/job${j.id}"
          Map("span" -> js, "name" -> "job", "start" -> j.start, "end" -> j.end,
            "parent" -> id, "op" -> id) +:
            stages.getOrElse(id, ArrayBuffer.empty).toSeq.filter(s => j.stages.contains(s.id))
              .map(s => Map("span" -> s"$js/stage${s.id}", "name" -> "stage",
                "start" -> s.start, "end" -> s.end, "parent" -> js, "op" -> id))
        }
    }
    Map("ops" -> opRows, "spans" -> spans)
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  final case class Job(op: String, id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, start: Long, end: Long, tasks: Int,
      runMs: Long, cpuMs: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Qe(start: Long, planMs: Long, bcastMs: Long, bcastBytes: Long)

  /** Length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Minimal JSON reading/writing for the harness's own files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => encode(k.toString) + ":" + encode(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(encode).mkString("[", ",", "]")
    case other => encode(other.toString)
  }

  def write(p: Path, m: Map[String, Any]): Unit = Files.writeString(p, encode(m) + "\n")

  /** `jobs.json` of a lake job stream: (key space, [(dir, mode)]). */
  def parseJobs(p: Path): (Long, Seq[(String, String)]) = {
    val root = mapper.readTree(Files.readString(p))
    (root.get("keys").asLong,
      root.get("jobs").elements().asScala.map(j => (j.get("dir").asText, j.get("mode").asText)).toSeq)
  }
}
