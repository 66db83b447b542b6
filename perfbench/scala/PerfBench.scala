package perfbench

import graft.SparkEntry
import graft.core.DataDirConfig
import graft.lake.{LakeTable, TransactionLog}
import graft.runner.{Runner, Sessions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark harness: one client, sequential ops.
  *
  * Drives graft only through its public entry points (`Runner.run`,
  * `LakeTable`, `TransactionLog`, `SparkEntry.queries`) and writes the
  * raw samples to `<out>/result.json`; `perfbench/run.py` turns them
  * into metrics and checks the outputs.
  *
  * Order of a run: SparkSession, the first op in the cold JVM, a fixed
  * number of warm-up passes (all of that is set-up), then timed passes
  * until `--seconds` have elapsed. A pass is the workload's fixed op
  * sequence. Only op bodies are timed: probes, byte accounting and
  * tracing bookkeeping run between the timed regions.
  */
object PerfBench {

  final case class Opts(workload: String, input: Path, out: Path, seconds: Double,
      trace: Boolean, warmup: Int, threads: Int, minPasses: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), Paths.get(m("input")), Paths.get(m("out")), m("seconds").toDouble,
      m("trace") == "1", m("warmup").toInt, m("threads").toInt, m("min-passes").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.out)
    val spark = SparkEntry.configure(SparkSession.builder()
        .master(s"local[${o.threads}]")
        .config("spark.sql.shuffle.partitions", o.threads.toString)
        .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toString)
        .config("spark.local.dir", o.out.resolve("local").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)
    val w: Workload = o.workload match {
      case "lake_upsert" => new LakeWorkload(spark, o, rec)
      case "corpus_small" => new CorpusWorkload(spark, o, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(spark)
    try {
      rec.firstOpMs = rec.timeOnce(w.firstOp())
      for (_ <- 0 until o.warmup) w.pass()
      rec.jitSetupMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      rec.setupEndEpochMs = System.currentTimeMillis()
      if (o.trace) tracer.install()
      rec.measuring = true
      val t0 = System.nanoTime()
      val gc0 = gcMs()
      while (rec.passes.size < o.minPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
        rec.beginPass()
        w.pass()
        rec.endPass()
      }
      rec.gcMs = gcMs() - gc0
      rec.jitMeasuredMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime -
        rec.jitSetupMs
      rec.measuring = false
      if (o.trace) tracer.drain()
      w.finish()
    } catch {
      case e: Throwable =>
        rec.fatal = Some(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    rec.peakRssKb = vmHwmKb()
    Json.write(o.out.resolve("result.json"), rec.toJson ++ w.summary ++
      (if (o.trace) Map("trace" -> tracer.toJson(rec.opSpans.toSeq)) else Map.empty))
    spark.stop()
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def vmHwmKb(): Long = {
    val l = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    l.map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  def listDir(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Nil
    else { val s = Files.list(d); try s.iterator().asScala.toSeq finally s.close() }

  def dirBytes(d: Path): Long =
    if (!Files.exists(d)) 0L
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** One workload: a cold first op, then identical passes. */
trait Workload {
  def firstOp(): Unit
  def pass(): Unit
  /** Writes whatever the correctness gate reads, after the timed loop. */
  def finish(): Unit
  def summary: Map[String, Any]
}

/** Timed regions, per-op samples and failures. An op that throws is
  * counted as attempted and failed; the run goes on with the next op.
  */
final class Recorder(spark: SparkSession) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var measuring = false
  var firstOpMs = 0.0
  var setupEndEpochMs = 0L
  var jitSetupMs = 0L
  var jitMeasuredMs = 0L
  var gcMs = 0L
  var peakRssKb = 0L
  var fatal: Option[String] = None
  var attempted = 0
  val errors = ArrayBuffer.empty[String]
  /** per measured pass: (wall ms, cpu ms) summed over its timed regions */
  val passes = ArrayBuffer.empty[(Double, Double)]
  /** measured samples: (kind, name, ms or count) */
  val samples = ArrayBuffer.empty[(String, String, Double)]
  /** op spans for the trace: (op id, kind, name, start epoch ms, end epoch ms) */
  val opSpans = ArrayBuffer.empty[(String, String, String, Long, Long)]
  private var passWall = 0.0
  private var passCpu = 0.0
  private var opSeq = 0

  def timeOnce(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6
  }

  def beginPass(): Unit = { passWall = 0; passCpu = 0 }
  def endPass(): Unit = passes += ((passWall, passCpu))

  /** Runs one op as a timed region; returns false if it threw. */
  def op(kind: String, name: String)(body: => Unit): Boolean = {
    attempted += 1
    opSeq += 1
    val id = s"op$opSeq"
    spark.sparkContext.setLocalProperty(Tracer.OpKey, id)
    val startMs = System.currentTimeMillis()
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable =>
        errors += s"$kind $name: ${e.getClass.getName}: ${e.getMessage}".take(400)
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpu = (os.getProcessCpuTime - c0) / 1e6
    spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
    if (measuring) {
      passWall += ms
      passCpu += cpu
      samples += ((kind, name, ms))
      opSpans += ((id, kind, name, startMs, System.currentTimeMillis()))
    }
    ok
  }

  /** A sample taken outside the timed regions: a probe's time or a count. */
  def probe(kind: String, name: String, value: Double): Unit =
    if (measuring) samples += ((kind, name, value))

  def toJson: Map[String, Any] = Map(
    "first_op_ms" -> firstOpMs, "setup_end_epoch_ms" -> setupEndEpochMs,
    "jit_setup_ms" -> jitSetupMs, "jit_measured_ms" -> jitMeasuredMs, "gc_ms" -> gcMs,
    "peak_rss_kb" -> peakRssKb,
    "attempted" -> attempted, "errors" -> errors.toSeq, "fatal" -> fatal.orNull,
    "passes" -> passes.map { case (w, c) => Map("wall_ms" -> w, "cpu_ms" -> c) }.toSeq,
    "samples" -> samples.map { case (k, n, ms) => Seq(k, n, ms) }.toSeq)
}

/** The 15 corpus queries round-robin; each op runs one query and writes
  * its result as parquet to `<out>/results/<query>` (the last pass's
  * files are what the correctness gate reads).
  */
final class CorpusWorkload(spark: SparkSession, o: PerfBench.Opts, rec: Recorder)
    extends Workload {
  import CorpusWorkload._
  private val results = o.out.resolve("results")
  private val inputBytes = Map(
    "documents" -> Files.size(o.input.resolve("documents.parquet")),
    "embeddings" -> Files.size(o.input.resolve("embeddings.parquet")))
  private var bytesIn = 0L
  private var bytesOut = 0L

  private def run(q: String): Unit =
    rec.op("query", q) {
      SparkEntry.queries(q)(spark, o.input.toString)
        .write.mode("overwrite").parquet(results.resolve(q).toString)
    }

  def firstOp(): Unit = run(Queries.head)

  def pass(): Unit = Queries.foreach { q =>
    run(q)
    if (rec.measuring) {
      bytesIn += inputBytes(if (EmbeddingQueries(q)) "embeddings" else "documents")
      bytesOut += PerfBench.dirBytes(results.resolve(q))
    }
  }

  def finish(): Unit = ()

  def summary: Map[String, Any] = Map(
    "bytes_in" -> bytesIn, "bytes_written" -> bytesOut,
    "oracle_sql" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
}

object CorpusWorkload {
  // the cheapest query first: it is the cold first op of every run
  val Queries: Seq[String] = Seq(
    "q54_quality_filter", "q21_dedup_minhash", "q24_dedup_embedding", "q47_dedup_components",
    "q50_dedup_apply", "q66_verified_dedup",
    "q49_top_terms", "q55_decontaminate", "q56_repetition",
    "q25_ann_bruteforce", "q70_ann_chunked", "q74_ann_lsh_chunked", "q75_ann_ivf_chunked",
    "q67_stratified_quota", "q71_weighted_quota_rows")
  val EmbeddingQueries: Set[String] = Set(
    "q24_dedup_embedding", "q25_ann_bruteforce", "q70_ann_chunked",
    "q74_ann_lsh_chunked", "q75_ann_ivf_chunked")
}

/** Keboola job stream into one copy-on-write table: every job goes
  * through `Runner.run` and is followed by a read-after-write aggregate;
  * each pass also runs a DELETE of the appended keys, a compaction and
  * a vacuum. The op log (`lake_log`) lets the gate replay the stream.
  */
final class LakeWorkload(spark: SparkSession, o: PerfBench.Opts, rec: Recorder)
    extends Workload {
  private val meta = Json.parseJobs(o.input.resolve("jobs.json"))
  private val keys: Long = meta._1
  private val jobs: Seq[(String, String)] = meta._2 // (dir, mode); head = bootstrap
  private val tablePath = o.out.resolve("table")
  private val table = new LakeTable(spark, tablePath)
  private val JobsPerPass = 8
  private var cursor = 0
  /** replay log: ("job", dir, read count) | ("delete"|"compact"|"vacuum", "", -1);
    * the dir is "!" + dir (or "!") when the op threw */
  private val log = ArrayBuffer.empty[(String, String, Long)]
  // table-directory byte accounting: path -> (size, mtime)
  private var seen = Map.empty[Path, (Long, Long)]
  private var bytesWritten = 0L
  private var csvBytes = 0L
  private var prevSnap: Option[TransactionLog.Snapshot] = None
  private var finalTableBytes = 0L
  private val logDir = TransactionLog.logDir(tablePath)
  // (checkpoint files, log bytes, version) when the timed loop starts and ends
  private var logAt = Seq.empty[(Long, Long, Long)]

  // the component session applies the config's writer file cap
  Sessions.sparkConfFor(DataDirConfig.load(o.input.resolve(jobs.head._1)).config)
    .get("spark.sql.files.maxRecordsPerFile")
    .foreach(spark.conf.set("spark.sql.files.maxRecordsPerFile", _))

  private def logState(): (Long, Long, Long) = (
    PerfBench.listDir(logDir).count(_.toString.endsWith(".checkpoint.json")).toLong,
    PerfBench.dirBytes(logDir), table.version)

  private def job(dir: String): Unit = {
    val dd = o.input.resolve(dir)
    val cfg = DataDirConfig.load(dd).config
    val ok = rec.op("job", dir) { Runner.run(spark, cfg, dd, tablePath) }
    if (rec.measuring) {
      csvBytes += PerfBench.dirBytes(dd.resolve("in/tables/items.csv"))
      if (o.trace) {
        rec.probe("load", dir, rec.timeOnce(
          Runner.loadInput(spark, dd).write.format("noop").mode("overwrite").save()))
        commitProbe(Some(csvRows(dd.resolve("in/tables/items.csv"))))
      }
      account()
    }
    var rows = -1L
    var read: DataFrame = null
    rec.op("read", dir) {
      read = table.read().groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("amount").as("amount"), max("ts").as("ts"))
      rows = read.collect().map(_.getLong(1)).sum
    }
    if (o.trace && rows >= 0) rec.probe("scan_files", dir, Plans.scanFiles(read))
    log += (("job", if (ok) dir else "!" + dir, rows))
  }

  private def maintenance(kind: String)(body: => Unit): Unit = {
    val ok = rec.op(kind, kind)(body)
    log += ((kind, if (ok) "" else "!", -1L))
    if (rec.measuring) {
      if (o.trace) commitProbe(None)
      account()
    }
  }

  /** Data rows of a headered job CSV. */
  private def csvRows(csv: Path): Long = {
    val l = Files.lines(csv)
    try l.count() - 1 finally l.close()
  }

  /** Snapshot replay timing and the add/remove delta of the last commit. */
  private def commitProbe(changedRows: Option[Long]): Unit = {
    var snap: TransactionLog.Snapshot = null
    rec.probe("snapshot", "", rec.timeOnce { snap = TransactionLog.snapshot(tablePath) })
    prevSnap.foreach { prev =>
      if (snap.version != prev.version) {
        val before = prev.files.map(f => f.path -> f).toMap
        val after = snap.files.map(f => f.path -> f).toMap
        val added = after.keySet -- before.keySet
        val removed = before.keySet -- after.keySet
        rec.probe("files_added", "", added.size)
        rec.probe("files_removed", "", removed.size)
        rec.probe("commit_bytes", "", added.toSeq.map(after(_).size).sum.toDouble)
        changedRows.foreach { n =>
          val rewritten = removed.toSeq.flatMap(before(_).numRecords).sum
          if (n > 0 && removed.nonEmpty) rec.probe("rewrite_ratio", "", rewritten.toDouble / n)
        }
      }
    }
    rec.probe("files_live", "", snap.files.size)
    prevSnap = Some(snap)
  }

  /** Adds every new or changed file under the table directory. */
  private def account(): Unit = {
    val s = Files.walk(tablePath)
    val now = try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
    }.toMap finally s.close()
    bytesWritten += now.collect { case (p, v) if !seen.get(p).contains(v) => v._1 }.sum
    seen = now
  }

  /** The bootstrap load of the key space and its read. */
  def firstOp(): Unit = job(jobs.head._1)

  def pass(): Unit = {
    if (rec.measuring && logAt.isEmpty) {
      account() // baseline: files that exist before the first measured op
      bytesWritten = 0
      logAt = Seq(logState())
      if (o.trace) prevSnap = Some(TransactionLog.snapshot(tablePath))
    }
    for (i <- 0 until JobsPerPass) {
      job(jobs(1 + cursor % (jobs.size - 1))._1)
      cursor += 1
      if (i == 5) maintenance("delete") { table.delete(col("id") >= keys) }
    }
    maintenance("compact") { table.compact() }
    maintenance("vacuum") { table.vacuum() }
  }

  def finish(): Unit = {
    logAt = logAt :+ logState()
    table.read().write.mode("overwrite").parquet(o.out.resolve("final_table").toString)
    finalTableBytes = PerfBench.dirBytes(tablePath)
  }

  def summary: Map[String, Any] = Map(
    "bytes_in" -> csvBytes, "bytes_written" -> bytesWritten,
    "table_bytes" -> finalTableBytes,
    "log_at" -> logAt.map { case (c, b, v) => Seq(c, b, v) },
    "lake_log" -> log.map { case (k, d, n) => Seq(k, d, n) }.toSeq)
}
