package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every registered query on
  * $SPARK_GRAFT_SF_DIR, forcing full materialization through the noop
  * sink (a bare `count()` would let Catalyst prune the very columns a
  * map-only query exists to compute), and prints one JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Three timed runs per query, report the min. The min drops what
    // only a query's first run pays (Janino compiles of its generated
    // classes, the JIT's first pass over them) and damps co-tenant
    // bursts. What it hides: back-to-back runs keep one query's classes
    // in Spark's generated-class cache, so a session that cycles
    // through more plan shapes than that cache holds (a corpus pass, a
    // DML loop, a stream) pays the compiles again on every pass and the
    // min never shows it. `codegen_compiles` (Janino compiles over a
    // query's timed runs) is reported beside each min for that reason.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // A query that throws must NOT masquerade as a (fast) timing — a
    // regression would silently *improve* the bench. Failed queries
    // report the literal string "failed" instead of a number and are
    // excluded from the total.
    // optional comma-separated subset for focused local iteration
    // (the driver never sets this; absent ⇒ full inventory)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // host-load stamp taken BEFORE any query runs: the bench's own
    // 32-thread work drives the 1-min loadavg to 3-5 by the end even
    // on an idle start, so an end-of-run stamp can't distinguish
    // "started idle" (valid run) from "co-tenant loaded" (noise) —
    // the r5 adjudication hinged on exactly this signal
    // Self-gate on host load (r6 judge item): a bench started on a warm
    // or co-tenant-loaded host reports noise, and the "start below 0.5"
    // protocol previously lived only in BENCHNOTES discipline. Wait for
    // the 1-min loadavg to drop below the gate (default 0.5, up to
    // load_wait_s); if it never does, run anyway but stamp
    // "load_gated":false into the JSON so the reader can see the
    // protocol was violated rather than silently trusting the numbers.
    // Default wait raised 120→900 s in r14: the r13 driver run started
    // at loadavg 0.59 and 120 s wasn't enough for the 1-min average to
    // DECAY below 0.5 even on an already-idle host (the decay alone
    // takes ~3 min from 0.6) — the run went out ungated and every
    // driver-file number drifted 15-25% vs r12. Fifteen minutes is
    // bounded for the driver yet long enough to outlast both the decay
    // and a typical co-tenant burst.
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "0.5").toDouble
    val loadWaitS = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_S", "900").toInt
    val gateDeadline = System.nanoTime() + loadWaitS * 1000000000L
    var gatePassed = currentLoad1m().forall(_ < loadGate)
    while (!gatePassed && System.nanoTime() < gateDeadline) {
      System.err.println(s"[bench] 1-min loadavg ${currentLoad1m().getOrElse(-1.0)} " +
        s">= $loadGate; waiting for the host to go idle")
      Thread.sleep(5000)
      gatePassed = currentLoad1m().forall(_ < loadGate)
    }
    if (!gatePassed)
      System.err.println(s"[bench] WARNING: loadavg still >= $loadGate after " +
        s"$loadWaitS s; timings below include co-tenant noise")
    val loadavgStart = readLoadavg()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      var ok = true
      val load1m = currentLoad1m()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          ok = false
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // inter-query hygiene, OUTSIDE the timed region: drop leftover
      // cached frames and nudge the ContextCleaner (localCheckpoint
      // blocks free on GC) so one query's working set cannot pressure
      // the next query's broadcast builds — a focused sf10 run OOM'd
      // q62 only when it FOLLOWED five checkpoint-heavy queries, and
      // the driver's full run is one long JVM with the same exposure
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      System.gc()
      (name, times.min, ok, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0, load1m)
    }
    def perQuery(value: ((String, Double, Boolean, Long, Option[Double])) => String): String =
      results.map(r => "\"" + r._1 + "\":" + value(r)).mkString("{", ",", "}")
    val qs = perQuery { case (_, v, ok, _, _) => if (ok) v.toString else "\"failed\"" }
    val failed = results.collect { case (k, _, false, _, _) => "\"" + k + "\"" }
    val total = results.collect { case (_, v, true, _, _) => v }.sum
    // `loadavg` = the START stamp (the run-validity signal: a
    // co-tenant-loaded run reads very differently from an idle one —
    // r3's 3.0x-vs-1.4x lesson); `loadavg_end` recorded too so a
    // burst ARRIVING mid-run is still visible; `loadavg1m` is the
    // 1-min loadavg as each query started (null where unreadable)
    val compiles = perQuery(_._4.toString)
    val loads = perQuery(_._5.fold("null")(_.toString))
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":${failed.mkString("[", ",", "]")},"loadavg":$loadavgStart,"load_gated":$gatePassed,"loadavg_end":${readLoadavg()},"sf":"$sfDir","codegen_compiles":$compiles,"loadavg1m":$loads}"""
    // BENCH_r07's captured stdout tail was truncated and lost four
    // queries — the record must survive any capture window, so it is
    // ALSO written whole to a file (path overridable, announced on
    // stderr so a truncated capture still points at the full copy)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
      System.err.println(s"[bench] full result JSON written to $outFile")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    println(json)
    spark.stop()
  }

  /** 1-min loadavg, None when the platform cannot report one. */
  private def currentLoad1m(): Option[Double] =
    try Some(java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble)
    catch { case _: Exception =>
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      if (l < 0) None else Some(l)
    }

  private def readLoadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).mkString("[", ",", "]")
    catch { case _: Exception =>
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      // getSystemLoadAverage returns -1.0 when unsupported; emit null
      // so unknown load is distinguishable from a measured near-idle one
      if (l < 0) "null" else s"[$l]"
    }
}
