package graft

import graft.lake.{FileStats, LakeTable, MergeClause, MergeSpec}
import graft.operators.MergeOps
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Local file system whose reads fail (writes, listings and renames
  * work): a parquet footer read through it never succeeds.
  */
class UnreadableLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(
      f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
    throw new java.io.IOException(s"unreadable: $f")
}

/** Lake DML: the probe names the touched files AND counts the matched
  * rows, SQL MERGE shares one first pass across both storage modes,
  * and the commit harvests footer stats concurrently.
  */
class LakeDmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def jobs(body: => Any): Int = JobTrace.traced(spark)(body).jobs

  /** (jobs, SQL executions) of `body`; the trace's closing marker comes
    * after every execution-end event on the same listener queue.
    */
  private def jobsAndExecutions(body: => Any): (Int, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        n.incrementAndGet()
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        n.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try (JobTrace.traced(spark)(body).jobs, n.get)
    finally spark.listenerManager.unregister(listener)
  }

  private def tmpTable(): LakeTable =
    LakeTable.forPath(spark, Files.createTempDirectory("graft-dml").resolve("t").toString)

  /** Ids 0..999 in 4 files of 250 (a nullable key column, so NULL
    * source keys can land); `v` = id % 7, NULL on every 10th id.
    */
  private def seeded(): LakeTable = {
    val t = tmpTable()
    t.write(spark.range(0, 1000, 1, 4).select(when($"id" >= 0, $"id").as("id"),
      when($"id" % 10 === 0, lit(null)).otherwise($"id" % 7).cast("int").as("v"),
      ($"id" % 3).cast("string").as("s")), "append")
    assert(t.snapshotNow.files.size == 4)
    t
  }

  private def lastParams(t: LakeTable): Map[String, String] =
    t.historyInfo.head.operationParameters

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("copy-on-write DML runs a fixed number of jobs: upsert 5, DELETE 2, UPDATE 2") {
    val t = seeded()
    // 20 source rows, half matching the last file: the probe semi-join
    // broadcasts the source keys
    val src = spark.range(990, 1010, 1, 2)
      .select($"id", lit(1).as("v"), lit("u").as("s"))
    // source cache build, key broadcast, probe; the rewrite broadcasts
    // the keys again and writes
    assert(jobs(t.merge(src, Seq("id"))) == 5)
    // probe (files + count in one job), rewrite
    assert(jobs(t.delete($"id" < 5)) == 2)
    assert(jobs(t.update($"id" === 500, Map("s" -> lit("x")))) == 2)
    assert(t.read().count() == 1005)
  }

  /** SQL MERGE of 4 source rows: 3 update rows of the first two files,
    * one inserts.
    */
  private def sqlMerge(t: LakeTable): Unit = {
    val src = Seq((3L, "x"), (251L, "y"), (252L, "z"), (5000L, "w")).toDF("sid", "sname")
    t.mergeInto(src) { (target, s) =>
      MergeSpec(target("id") === s("sid"),
        matched = Seq(MergeClause.Update(None, Map("s" -> s("sname")))),
        notMatched = Seq(MergeClause.Insert(None, Map("id" -> s("sid"), "s" -> s("sname")))),
        notMatchedBySource = Nil)
    }
  }

  test("copy-on-write SQL MERGE runs a fixed number of jobs") {
    val t = seeded()
    // the stats pass: source cache, source broadcast, changes cache,
    // two shuffles, collect; the rewrite: claimed-pair broadcast,
    // insert anti-join broadcast, write
    assert(jobsAndExecutions(sqlMerge(t)) == ((9, 2)))
    assert(t.read().count() == 1001)
  }

  test("merge-on-read upsert, UPDATE and SQL MERGE run a fixed number of jobs") {
    val t = seeded()
    t.alterSetProperties(Map(LakeTable.MergeModeKey -> "merge-on-read"))
    val src = spark.range(990, 1010, 1, 2)
      .select($"id", lit(1).as("v"), lit("u").as("s"))
    assert(jobs(t.merge(src, Seq("id"))) == 8)
    assert(jobs(t.update($"id" === 500, Map("s" -> lit("x")))) == 6)
    assert(jobs(sqlMerge(t)) == 12)
    assert(t.hasDeletionVectors)
    assert(t.read().count() == 1011)
    assert(t.read().where($"s".isin("x", "y", "z", "w")).count() == 5)
  }

  test("merge-on-read DELETE counts its DV rows in one job") {
    val t = seeded()
    t.alterSetProperties(Map(LakeTable.MergeModeKey -> "merge-on-read"))
    var n = 0L
    // one job counts the DV rows per file (filling their cache); the DV
    // write, on a pool thread, broadcasts its fid lookup, exchanges and
    // writes
    assert(jobs { n = t.delete($"id" % 4 === 1) } == 4)
    assert(n == 250)
    assert(t.hasDeletionVectors)
    assert(t.read().count() == 750)
  }

  test("merge-on-read DELETE runs every job under the caller's job group") {
    val t = seeded()
    t.alterSetProperties(Map(LakeTable.MergeModeKey -> "merge-on-read"))
    val sc = spark.sparkContext
    val group = s"mor-delete-${java.util.UUID.randomUUID()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    // registered before JobTrace's listener: the bus delivers each event
    // to both in order, so once the trace closes this one has seen all
    sc.addSparkListener(listener)
    try {
      val traced = JobTrace.traced(spark) {
        sc.setJobGroup(group, "merge-on-read DELETE")
        try t.delete($"id" % 4 === 1) finally sc.clearJobGroup()
      }
      assert(traced.jobs == 4)
      // the DV and append writes run on pool threads: they must carry
      // the group too, or cancelJobGroup and FAIR pools miss them
      assert(groups.toArray.count(_ == group) == traced.jobs)
    } finally sc.removeSparkListener(listener)
    assert(t.read().count() == 750)
  }

  test("NULL source keys upserted into a table written from spark.range read back NULL, never 0") {
    val t = tmpTable()
    // spark.range's id is non-nullable
    t.write(spark.range(0, 10, 1, 2).select($"id", ($"id" % 3).cast("int").as("v"),
      lit("x").as("s")), "append")
    val src = Seq[(Option[Long], Option[Int], String)](
      (None, Some(3), "n"), (None, Some(4), "m"), (Some(2L), Some(9), "u"))
      .toDF("id", "v", "s")
    val expected = MergeOps.upsert(t.read(), src, Seq("id")).collect()
    t.merge(src, Seq("id"))
    assert(sorted(t.read().collect()) == sorted(expected))
    assert(t.read().where($"id".isNull).count() == 2)
    assert(t.read().where($"id" === 0).count() == 1)
    // the schema taken from the frame is logged nullable
    assert(t.snapshotNow.schema("id").nullable)
  }

  test("DELETE/UPDATE counts: rows whose condition is NULL are kept and not counted") {
    val expected = (0 until 1000).count(i => i % 10 != 0 && i % 7 > 3).toLong
    val del = seeded()
    assert(del.delete($"v" > 3) == expected)
    assert(lastParams(del)("numDeleted") == expected.toString)
    assert(del.read().count() == 1000 - expected)
    assert(del.read().where($"v".isNull).count() == 100)

    val upd = seeded()
    assert(upd.update($"v" > 3, Map("s" -> lit("hit"))) == expected)
    assert(lastParams(upd)("numUpdated") == expected.toString)
    assert(upd.read().where($"s" === "hit").count() == expected)
    assert(upd.read().where($"v".isNull && $"s" === "hit").count() == 0)
  }

  test("DELETE/UPDATE counts on a copy-on-write table still carrying merge-on-read DVs") {
    def dvTable(): LakeTable = {
      val t = seeded()
      t.alterSetProperties(Map(LakeTable.MergeModeKey -> "merge-on-read"))
      assert(t.delete($"id" % 4 === 1) == 250) // a quarter of each file: the DVs stay
      t.alterSetProperties(Map(LakeTable.MergeModeKey -> "copy-on-write"))
      assert(t.hasDeletionVectors)
      t
    }
    // odd ids: the 250 with id % 4 == 1 are already deleted, 250 are live
    val del = dvTable()
    assert(del.delete($"id" % 2 === 1) == 250)
    assert(lastParams(del)("numDeleted") == "250")
    assert(del.read().count() == 500)
    assert(del.read().where($"id" % 2 === 1).count() == 0)

    val upd = dvTable()
    assert(upd.update($"id" % 2 === 1, Map("s" -> lit("hit"))) == 250)
    assert(lastParams(upd)("numUpdated") == "250")
    assert(upd.read().count() == 750)
    assert(upd.read().where($"s" === "hit").count() == 250)
    assert(upd.read().where($"id" % 4 === 1).count() == 0)
  }

  test("upsert with duplicate and NULL source keys equals MergeOps.upsert; probe metrics recorded") {
    val t = seeded()
    val before = t.read().collect()
    val src = Seq[(Option[Long], Option[Int], String)](
      (Some(5L), Some(1), "a"), (Some(5L), Some(2), "b"), // one target row, two source rows
      (None, Some(3), "n"), (None, Some(4), "m"),          // NULL keys never match
      (Some(600L), Some(9), "c"), (Some(2000L), None, "new"))
      .toDF("id", "v", "s")
    val expected = MergeOps.upsert(
      spark.createDataFrame(spark.sparkContext.parallelize(before.toSeq), t.read().schema),
      src, Seq("id")).collect()
    t.merge(src, Seq("id"))
    assert(sorted(t.read().collect()) == sorted(expected))
    // ids 5 and 600 live in the first and third file
    val params = lastParams(t)
    assert(params("numTargetRowsMatched") == "2")
    assert(params("numTargetFilesRewritten") == "2")
  }

  test("SQL-style MERGE records the rows its probe matched and the files it rewrote") {
    val t = seeded()
    val src = Seq((3L, "x"), (251L, "y"), (252L, "z"), (5000L, "w")).toDF("sid", "sname")
    t.mergeInto(src) { (target, s) =>
      MergeSpec(target("id") === s("sid"),
        matched = Seq(MergeClause.Update(None, Map("s" -> s("sname")))),
        notMatched = Seq(MergeClause.Insert(None, Map("id" -> s("sid"), "s" -> s("sname")))),
        notMatchedBySource = Nil)
    }
    // ids 3 and 251/252 live in the first and second file
    assert(lastParams(t)("numTargetRowsMatched") == "3")
    assert(lastParams(t)("numTargetFilesRewritten") == "2")
    assert(t.read().count() == 1001)
    assert(t.read().where($"s".isin("x", "y", "z", "w")).count() == 4)
    // NOT MATCHED BY SOURCE rewrites only the file holding the row it
    // claims (id 0, in the first file), and the probe counts the rows
    // the source matched (3, 251, 252 and the inserted 5000)
    val expected = t.read().collect().map(r =>
      if (r.getLong(0) == 0L) Row(r.get(0), r.get(1), "gone") else r)
    t.mergeInto(src) { (target, s) =>
      MergeSpec(target("id") === s("sid"), matched = Nil, notMatched = Nil,
        notMatchedBySource = Seq(MergeClause.Update(
          Some(target("id") === 0), Map("s" -> lit("gone")))))
    }
    assert(lastParams(t)("numTargetFilesRewritten") == "1")
    assert(lastParams(t)("numTargetRowsMatched") == "4")
    assert(sorted(t.read().collect()) == sorted(expected))
  }

  /** Ids 0..19999 in ONE file of several row groups, in `mode`. */
  private def oneFileTable(mode: String): LakeTable = {
    val t = tmpTable()
    spark.conf.set("parquet.block.size", "16384")
    try t.write(spark.range(0, 20000, 1, 1).select(when($"id" >= 0, $"id").as("id"),
      ($"id" % 7).cast("int").as("v"), ($"id" % 3).cast("string").as("s")), "append")
    finally spark.conf.unset("parquet.block.size")
    t.alterSetProperties(Map(LakeTable.MergeModeKey -> mode))
    assert(t.snapshotNow.files.size == 1)
    t
  }

  /** `body` with the scan splitting one file across several tasks. */
  private def withSplitScans[A](body: => A): A = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try body finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("SQL MERGE, both modes, one file split across scan tasks: same cardinality error, same contents") {
    val modes = Seq("copy-on-write", "merge-on-read")
    val tables = modes.map(oneFileTable)
    withSplitScans {
      // the one file really is read by several tasks
      assert(tables.head.read().rdd.mapPartitions(it => Iterator(it.size))
        .collect().count(_ > 0) > 1)
      // target row 15000 matched by two source rows
      val twice = Seq((15000L, "a"), (15000L, "b"), (7L, "c")).toDF("sid", "sname")
      tables.foreach { t =>
        val v = t.version
        val e = intercept[graft.core.UserException](t.mergeInto(twice) { (target, s) =>
          MergeSpec(target("id") === s("sid"),
            matched = Seq(MergeClause.Update(None, Map("s" -> s("sname")))),
            notMatched = Nil, notMatchedBySource = Nil)
        })
        assert(e.getMessage.contains("matched multiple source rows"), e.getMessage)
        assert(t.version == v)
      }
      // conditioned DELETE and UPDATE, a conditioned INSERT, then NOT
      // MATCHED BY SOURCE UPDATE and DELETE
      val src = spark.range(0, 1000, 1, 2).select(($"id" * 37).as("sid"))
      tables.foreach { t =>
        t.mergeInto(src) { (target, s) =>
          MergeSpec(target("id") === s("sid"),
            matched = Seq(
              MergeClause.Delete(Some(s("sid") % 2 === 0)),
              MergeClause.Update(Some(target("v") > 2), Map("v" -> lit(-1), "s" -> lit("u")))),
            notMatched = Seq(MergeClause.Insert(Some(s("sid") % 3 === 0),
              Map("id" -> s("sid"), "v" -> lit(0), "s" -> lit("i")))),
            notMatchedBySource = Nil)
        }
        t.mergeInto(src) { (target, s) =>
          MergeSpec(target("id") === s("sid"), matched = Nil, notMatched = Nil,
            notMatchedBySource = Seq(
              MergeClause.Update(Some(target("id") < 50), Map("s" -> lit("nm"))),
              MergeClause.Delete(Some(target("id").between(100, 120)))))
        }
      }
    }
    val Seq(cow, mor) = tables.map(t => sorted(t.read().collect()))
    assert(cow == mor)
    assert(mor.size == 20000 - 271 + 153 - 20)
    assert(tables(1).hasDeletionVectors)
  }

  test("malformed merge-mode and DV-policy properties fail by name before anything commits") {
    val t = seeded()
    t.alterSetProperties(Map(LakeTable.MergeModeKey -> "merge-on-read"))
    val v = t.version
    val bad = Seq(LakeTable.DvMaxRatioKey -> "lots", LakeTable.DvMaxRatioKey -> "-1",
      LakeTable.DvMaxBytesKey -> "lots", LakeTable.DvMaxBytesKey -> "-1",
      LakeTable.DvAutoOptimizeKey -> "yes", LakeTable.MergeModeKey -> "yes")
    bad.foreach { case (k, value) =>
      Seq[() => Unit](() => t.alterSetProperties(Map(k -> value)),
        () => tmpTable().createEmpty(t.snapshotNow.schema, Nil, Map(k -> value))).foreach { op =>
        val e = intercept[graft.core.UserException](op())
        assert(e.getMessage.contains(s"$k = '$value'"), e.getMessage)
      }
    }
    assert(t.version == v)
    assert(t.delete($"id" < 10) == 10)
    assert(t.read().count() == 990)
  }

  test("stats harvest: concurrent footers equal the sequential harvest") {
    val multi = seeded()
    val parted = tmpTable()
    parted.write(spark.range(0, 600, 1, 3).select($"id",
      ($"id" % 3).cast("int").as("g"), concat(lit("n"), $"id".cast("string")).as("name")),
      "append", partitionBy = Seq("g"))
    assert(parted.snapshotNow.files.size >= 3)
    for (t <- Seq(multi, parted); f <- t.snapshotNow.files) {
      assert(f.stats.isDefined, f.path)
      assert(f.stats == FileStats.forFile(t.path.resolve(f.path), new Configuration()), f.path)
    }
    // an unreadable file yields None in its slot and leaves the others alone
    val junk = Files.createTempFile("graft-junk", ".parquet")
    Files.writeString(junk, "not a parquet file")
    val files = multi.snapshotNow.files.map(f => multi.path.resolve(f.path))
    val out = FileStats.forFiles(files.head +: junk +: files.tail, new Configuration())
    assert(out(1).isEmpty)
    assert(out.patch(1, Nil, 1) == files.map(FileStats.forFile(_, new Configuration())))
  }

  test("stats harvest: a footer that cannot be read leaves the file without stats; the commit lands") {
    val t = tmpTable()
    spark.conf.set("fs.file.impl", classOf[UnreadableLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try t.write(spark.range(0, 100, 1, 2).toDF("id"), "append")
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    val files = t.snapshotNow.files
    assert(files.size == 2)
    assert(files.forall(_.stats.isEmpty))
    assert(t.read().count() == 100)
  }

  test("a NOT NULL column rejects NULLs from append, upsert and UPDATE; never reads back 0") {
    val t = tmpTable()
    t.createEmpty(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT NOT NULL, s STRING"),
      Nil, Map.empty)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), "append")
    val nullKey = Seq[(Option[Long], String)]((None, "z")).toDF("id", "s")
    def rejected(body: => Any): Unit = {
      val e = intercept[graft.core.UserException](body)
      assert(e.getMessage.contains("id"), e.getMessage)
    }
    rejected(t.write(nullKey, "append"))
    rejected(t.merge(nullKey, Seq("id")))
    rejected(t.update($"id" === 2, Map("id" -> lit(null))))
    assert(sorted(t.read().collect()) == Seq("[1,a]", "[2,b]"))
    assert(t.version == 1)
  }

  test("the copy-on-write rewrite of an unpartitioned table without DVs reads no _metadata field") {
    val t = seeded()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the trace's closing marker comes after every execution-end event
    // on the same listener queue
    try JobTrace.traced(spark)(t.merge(spark.range(990, 1010).select($"id",
      lit(1).as("v"), lit("u").as("s")), Seq("id")))
    finally spark.listenerManager.unregister(listener)
    object Scans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // the rewrite reads its files through a plain parquet scan; the
    // probe reads the snapshot through the log-backed index
    val rewriteScans = plans.toArray.toSeq.flatMap(p => Scans.collect(p.asInstanceOf[
      org.apache.spark.sql.execution.SparkPlan]) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if !s.relation.location.isInstanceOf[graft.lake.GraftFileIndex] => s
    })
    assert(rewriteScans.nonEmpty)
    rewriteScans.foreach { s =>
      val read = s.output.map(_.name)
      assert(read.forall(n => Seq("id", "v", "s").contains(n)), read)
    }
    assert(t.read().count() == 1010)
  }
}
