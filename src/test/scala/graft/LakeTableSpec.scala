package graft

import graft.core.UserException
import graft.lake.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

class LakeTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-lake").resolve("t").toString

  test("append + read round trip, atomic single commit") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    t.write(df, "append")
    assert(t.version == 0L)
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    t.write(Seq((4L, "d")).toDF("id", "v"), "append")
    assert(t.version == 1L)
    assert(t.read().count() == 4)
  }

  test("overwrite replaces content; error mode throws on existing") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a")).toDF("id", "v"), "error")
    assert(intercept[UserException](
      t.write(Seq((9L, "z")).toDF("id", "v"), "error"))
      .getMessage.contains("already exists"))
    t.write(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), "overwrite")
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((2L, "b"), (3L, "c")))
  }

  test("partitioned write: hive dirs, partition column recovered, pruning") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    val df = spark.range(100).select(
      $"id", (col("id") % 4).cast("int").as("bucket"), rand(7).as("x"))
    t.write(df, "append", partitionBy = Seq("bucket"))
    val snap = t.snapshotNow
    assert(snap.metadata.partitionColumns == Seq("bucket"))
    assert(snap.files.forall(_.partitionValues.contains("bucket")))
    val back = t.read()
    assert(back.count() == 100)
    assert(back.where($"bucket" === 2).count() == 25)
    // partition pruning visible in the physical plan
    val plan = back.where($"bucket" === 2).queryExecution.executedPlan.toString
    assert(back.columns.contains("bucket"))
    assert(plan.toLowerCase.contains("partitionfilters"))
    // appends inherit table partitioning even when not re-specified
    t.write(spark.range(100, 104).select(
      $"id", (col("id") % 4).cast("int").as("bucket"), rand(7).as("x")), "append")
    assert(t.read().where($"bucket" === 3).count() == 26)
  }

  test("schema evolution: append with new column nulls out old rows") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a")).toDF("id", "v"), "append")
    t.write(Seq((2L, "b", 3.5)).toDF("id", "v", "score"), "append")
    val out = t.read().orderBy("id").collect()
    assert(t.read().columns.toSeq == Seq("id", "v", "score"))
    assert(out(0).isNullAt(2) && out(1).getDouble(2) == 3.5)
    // mergeSchema=false rejects evolution
    assert(intercept[UserException](
      t.write(Seq((3L, "c", 1.0, true)).toDF("id", "v", "score", "flag"),
        "append", mergeSchema = false)).getMessage.contains("Schema mismatch"))
  }

  test("merge upsert: updates matched, inserts new, leaves rest; file pruning") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    // two files via two appends → merge touching only one key prunes
    t.write(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x"), "append")
    t.write(Seq((3L, "c", 30.0), (4L, "d", 40.0)).toDF("id", "v", "x"), "append")
    val before = t.snapshotNow.files.map(_.path).toSet
    t.merge(Seq((2L, "B!", 99.0), (5L, "e", 50.0)).toDF("id", "v", "x"), Seq("id"))
    val rows = t.read().orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "a", 10.0), (2L, "B!", 99.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0)))
    // the file holding (3,4) must have survived untouched
    val after = t.snapshotNow.files.map(_.path).toSet
    assert(after.intersect(before).nonEmpty)
    // upsert is idempotent on the same source
    t.merge(Seq((2L, "B!", 99.0), (5L, "e", 50.0)).toDF("id", "v", "x"), Seq("id"))
    assert(t.read().count() == 5)
    assert(intercept[UserException](t.merge(Seq((1L, "x", 0.0)).toDF("id", "v", "x"), Nil))
      .getMessage.contains("primary keys"))
  }

  test("merge-on-read upsert: same answers as copy-on-write, no untouched-byte rewrite") {
    // twin tables, identical content; one flipped to merge-on-read
    def seed(t: LakeTable): Unit = {
      t.write((1L to 4000L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "x"), "append")
      t.write((4001L to 8000L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "x"), "append")
    }
    val cow = LakeTable.forPath(spark, tmpTable()); seed(cow)
    val mor = LakeTable.forPath(spark, tmpTable()); seed(mor)
    mor.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read"))
    val delta = (1L to 9000L by 7).map(i => (i, "UPD", -1.0)).toDF("id", "v", "x")

    def addsOfLastCommit(t: LakeTable): (Long, Long) = {
      // (bytes of data files added, files removed) in the newest commit
      val before = graft.lake.TransactionLog.snapshot(t.path, t.version - 1)
      val after = t.snapshotNow
      val beforePaths = before.files.map(_.path).toSet
      val added = after.files.filterNot(f => beforePaths.contains(f.path) &&
        before.files.find(_.path == f.path).exists(_.dv == f.dv))
      val removed = before.files.count(f => !after.files.exists(_.path == f.path))
      (added.filterNot(f => beforePaths.contains(f.path)).map(_.size).sum, removed.toLong)
    }

    cow.merge(delta, Seq("id"))
    mor.merge(delta, Seq("id"))
    val (cowBytes, cowRemoved) = addsOfLastCommit(cow)
    val (morBytes, morRemoved) = addsOfLastCommit(mor)

    // identical answers
    val a = cow.read().orderBy("id").collect().toSeq
    val b = mor.read().orderBy("id").collect().toSeq
    assert(a == b && a.size == 8000 + (8001L to 9000L by 7).size)
    // the point of the strategy: copy-on-write rewrote every touched
    // file (all 8000 rows); merge-on-read appended only the ~1286
    // source rows and removed NOTHING
    assert(morRemoved == 0 && cowRemoved > 0, s"removed: mor=$morRemoved cow=$cowRemoved")
    assert(morBytes * 2 < cowBytes, s"bytes added: mor=$morBytes cow=$cowBytes")
    assert(mor.hasDeletionVectors)
    // untouched original bytes still live under merge-on-read
    assert(mor.snapshotNow.files.map(_.path).toSet
      .intersect(graft.lake.TransactionLog.snapshot(mor.path, 0L).files.map(_.path).toSet)
      .nonEmpty)

    // a second merge on the DV'd table must DV the previously-appended
    // rows too (cumulative vectors) and stay idempotent
    mor.merge(delta, Seq("id"))
    assert(mor.read().orderBy("id").collect().toSeq == a)
    cow.merge(delta, Seq("id"))
    assert(cow.read().count() == mor.read().count())

    // time travel: pre-merge versions still read the original rows
    assert(mor.read(versionAsOf = 1L).where($"v" === "UPD").count() == 0)
    assert(mor.read(versionAsOf = 1L).count() == 8000)

    // CDC: the merge-on-read commit surfaces ONLY the appended rows
    // (deletes are invisible — same dedupe-on-PK contract as rewrites)
    val ch = mor.changes(2L, 3L)
    assert(ch.count() == delta.count())
    assert(ch.where($"v" =!= "UPD").count() == 0)

    // vacuum must not eat the referenced DV parquet
    mor.vacuum(0L)
    assert(mor.read().orderBy("id").collect().toSeq == a)

    // OPTIMIZE materializes: deletes fold into clean files, answers
    // unchanged, vectors gone, DV parquet becomes vacuumable
    assert(mor.compact() > 0)
    assert(!mor.hasDeletionVectors)
    assert(mor.read().orderBy("id").collect().toSeq == a)
    val dvDir = mor.path.resolve("_dv")
    val dvFilesBefore = if (Files.isDirectory(dvDir))
      Files.walk(dvDir).filter(p => p.toString.endsWith(".parquet")).count() else 0L
    assert(dvFilesBefore > 0)
    mor.vacuum(0L)
    val dvFilesAfter = if (Files.isDirectory(dvDir))
      Files.walk(dvDir).filter(p => p.toString.endsWith(".parquet")).count() else 0L
    assert(dvFilesAfter == 0, s"unreferenced DV parquets survived vacuum: $dvFilesAfter")
    assert(mor.read().orderBy("id").collect().toSeq == a)
  }

  test("merge-on-read MERGE INTO: update/delete/insert clauses match copy-on-write") {
    import graft.lake.{MergeClause, MergeSpec}
    def seed(t: LakeTable): Unit =
      t.write((1L to 3000L).map(i => (i, i % 10, s"n$i")).toDF("id", "grp", "name"), "append")
    val cow = LakeTable.forPath(spark, tmpTable()); seed(cow)
    val mor = LakeTable.forPath(spark, tmpTable()); seed(mor)
    mor.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read"))
    val src = (2500L to 3500L).map(i => (i, s"s$i")).toDF("sid", "sname")

    def run(t: LakeTable): Unit = t.mergeInto(src) { (target, s) =>
      MergeSpec(
        target("id") === s("sid"),
        matched = Seq(
          MergeClause.Delete(Some(target("grp") === 7)),
          MergeClause.Update(None, Map("name" -> s("sname")))),
        notMatched = Seq(MergeClause.Insert(Some(s("sid") % 2 === 0),
          Map("id" -> s("sid"), "grp" -> lit(99L), "name" -> s("sname")))),
        notMatchedBySource = Seq(
          MergeClause.Update(Some(target("id") < 10), Map("name" -> lit("OLD")))))
    }
    run(cow); run(mor)
    val a = cow.read().orderBy("id", "grp", "name").collect().toSeq
    val b = mor.read().orderBy("id", "grp", "name").collect().toSeq
    assert(a == b, s"first diff: ${a.zip(b).find(p => p._1 != p._2)}")
    assert(mor.hasDeletionVectors)
    // deletes and NMBS updates really happened through the DV path
    assert(mor.read().where($"id" === 2507L).count() == 0) // grp 7 → deleted
    assert(mor.read().where($"name" === "OLD").count() == 9)
    // copy-on-write DELETE/UPDATE still compose on a DV'd table
    assert(mor.delete($"grp" === 99L) === cow.delete($"grp" === 99L))
    assert(mor.read().orderBy("id", "grp", "name").collect().toSeq ==
      cow.read().orderBy("id", "grp", "name").collect().toSeq)
  }

  test("merge-on-read MERGE survives a pathologically under-estimated source") {
    // The MoR broadcast gate trusts optimizedPlan.stats.sizeInBytes
    // (cheap, no materializing job). An exploded one-row plan is the
    // classic under-estimator: Catalyst prices it from the 8-byte
    // range(1) child, while the actual frame is 200k rows — so the
    // gate WRONGLY picks the broadcast plan. This pins the backstop
    // behavior: the broadcast absorbs the real (MB-sized) source and
    // the merge completes with copy-on-write-identical answers; a
    // truly huge mis-estimate terminates at Spark's hard broadcast
    // caps (8 GB / 512M rows) — a loud failure, never an OOM.
    import graft.lake.{MergeClause, MergeSpec}
    val src = spark.range(1)
      .select(explode(sequence(lit(1L), lit(200000L))).as("sid"))
      .select($"sid", concat(lit("s"), $"sid").as("sname"))
    val est = src.queryExecution.optimizedPlan.stats.sizeInBytes
    // the premise of the test: the estimate undershoots the 256 MB
    // gate by orders of magnitude while the actual data is ~5 MB
    assert(est < (64L << 20),
      s"source no longer under-estimates (est=$est); rebuild the fixture")
    def seed(t: LakeTable): Unit =
      t.write((1L to 3000L).map(i => (i, s"n$i")).toDF("id", "name"), "append")
    val cow = LakeTable.forPath(spark, tmpTable()); seed(cow)
    val mor = LakeTable.forPath(spark, tmpTable()); seed(mor)
    mor.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read"))
    def run(t: LakeTable): Unit = t.mergeInto(src) { (target, s) =>
      MergeSpec(
        target("id") === s("sid"),
        matched = Seq(MergeClause.Update(None, Map("name" -> s("sname")))),
        notMatched = Seq(MergeClause.Insert(Some(s("sid") % 50 === 0),
          Map("id" -> s("sid"), "name" -> s("sname")))),
        notMatchedBySource = Nil)
    }
    run(cow); run(mor)
    assert(mor.read().orderBy("id", "name").collect().toSeq ==
      cow.read().orderBy("id", "name").collect().toSeq)
    assert(mor.read().count() == 3000 + (200000 - 3000) / 50)
  }

  test("merge-on-read DELETE/UPDATE: DV pairs only, copy-on-write-equal answers") {
    def seed(t: LakeTable): Unit = {
      t.write((1L to 4000L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "x"), "append")
      t.write((4001L to 8000L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "x"), "append")
    }
    val cow = LakeTable.forPath(spark, tmpTable()); seed(cow)
    val mor = LakeTable.forPath(spark, tmpTable()); seed(mor)
    mor.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read"))

    def removedByLastCommit(t: LakeTable): Long = {
      val before = graft.lake.TransactionLog.snapshot(t.path, t.version - 1)
      val after = t.snapshotNow
      before.files.count(f => !after.files.exists(_.path == f.path)).toLong
    }

    // scattered DELETE (10% of keys, every file touched)
    val vDel = mor.version
    assert(cow.delete($"id" % 10 === 0) == 800L)
    assert(mor.delete($"id" % 10 === 0) == 800L)
    assert(removedByLastCommit(cow) > 0)      // CoW rewrote files
    assert(removedByLastCommit(mor) == 0)     // MoR removed NOTHING
    assert(mor.hasDeletionVectors)
    assert(cow.read().orderBy("id").collect().toSeq ==
      mor.read().orderBy("id").collect().toSeq)
    // time travel: pre-delete version still reads all rows
    assert(mor.read(versionAsOf = vDel).count() == 8000)
    // CDC: a pure-DV DELETE commit emits nothing (deletes invisible)
    assert(mor.changes(vDel, vDel + 1).count() == 0)

    // scattered UPDATE (old row versions DV'd, new versions appended)
    assert(cow.update($"id" % 7 === 0, Map("v" -> lit("U"), "x" -> (col("x") + 1))) ==
      mor.update($"id" % 7 === 0, Map("v" -> lit("U"), "x" -> (col("x") + 1))))
    assert(removedByLastCommit(mor) == 0)
    assert(cow.read().orderBy("id").collect().toSeq ==
      mor.read().orderBy("id").collect().toSeq)
    // UPDATE evaluated against the OLD row: x became old-x + 1
    assert(mor.read().where($"v" === "U" && $"x" =!= col("id") + 1).count() == 0)

    // idempotence of the answer under OPTIMIZE + vacuum
    val expect = mor.read().orderBy("id").collect().toSeq
    assert(mor.compact() > 0)
    assert(!mor.hasDeletionVectors)
    mor.vacuum(0L)
    assert(mor.read().orderBy("id").collect().toSeq == expect)
  }

  test("DV scan tiers: mask filter and anti-join agree; mask plan is join-free") {
    val t = LakeTable.forPath(spark, tmpTable())
    t.write((1L to 4000L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "x"), "append")
    t.write((4001L to 8000L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "x"), "append")
    t.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read"))
    t.delete($"id" % 10 === 0)
    // second DML layer: cumulative DVs + appends on top of the delete
    t.merge((1L to 9000L by 7).map(i => (i, "UPD", -1.0)).toDF("id", "v", "x"), Seq("id"))
    assert(t.hasDeletionVectors)

    // tier 1 (default): ONE codegen'd mask filter, no join in the plan
    val viaMask = t.read().orderBy("id").collect().toSeq
    val maskPlan = t.read().queryExecution.executedPlan.toString
    assert(!maskPlan.contains("Join"), s"mask-tier plan has a join:\n$maskPlan")
    assert(maskPlan.contains("graft_dv_deleted"), s"mask filter missing:\n$maskPlan")

    // tier 2 (forced): numeric-keyed broadcast anti-join, same answer
    spark.conf.set(LakeTable.DvMaskMaxRowsKey, "0")
    try {
      val joinPlan = t.read().queryExecution.executedPlan.toString
      assert(joinPlan.contains("Join"), s"anti-join tier not engaged:\n$joinPlan")
      assert(t.read().orderBy("id").collect().toSeq == viaMask)
    } finally spark.conf.unset(LakeTable.DvMaskMaxRowsKey)

    // the expected content, independently derived
    val expect = ((1L to 8000L).filter(i => i % 10 != 0).map(i => (i, s"v$i", i * 1.0))
      .filterNot { case (i, _, _) => (i - 1) % 7 == 0 } ++
      (1L to 9000L by 7).map(i => (i, "UPD", -1.0)))
      .sortBy(_._1)
    assert(viaMask.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) == expect)
  }

  test("a malformed DV mask tier conf fails with a UserException naming key and value") {
    val t = LakeTable.forPath(spark, tmpTable())
    t.write((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    t.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read"))
    t.delete($"id" % 10 === 0)
    assert(t.hasDeletionVectors)
    for (bad <- Seq("lots", "-1", "1.5")) {
      spark.conf.set(LakeTable.DvMaskMaxRowsKey, bad)
      try {
        val ex = intercept[UserException](t.read())
        assert(ex.getMessage.contains(LakeTable.DvMaskMaxRowsKey) &&
          ex.getMessage.contains(s"'$bad'"), ex.getMessage)
      } finally spark.conf.unset(LakeTable.DvMaskMaxRowsKey)
    }
    // a Long past Int range is a valid row count
    spark.conf.set(LakeTable.DvMaskMaxRowsKey, "4294967296")
    try assert(t.read().count() == 90L)
    finally spark.conf.unset(LakeTable.DvMaskMaxRowsKey)
  }

  test("fully-gutted files are pruned from the scan list, not masked") {
    val t = LakeTable.forPath(spark, tmpTable())
    t.write((1L to 4000L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    t.write((4001L to 8000L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    // autoOptimize=false: the DV policy would otherwise materialize a
    // 100%-deleted file right after the commit — the prune exists for
    // exactly the deferred-maintenance window the policy can't cover
    t.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read",
      "graft.dv.autoOptimize" -> "false"))
    val firstFiles = graft.lake.TransactionLog.snapshot(t.path, 0L)
      .files.map(_.path).toSet

    // DELETE covers every row of every first-commit file (DV
    // cardinality == numRecords): those files must vanish from the
    // scan list entirely — no IO, no mask — not get row-masked
    assert(t.delete($"id" <= 4000L) == 4000L)
    assert(t.hasDeletionVectors)
    val df = t.read()
    assert(df.count() == 4000L && df.where($"id" <= 4000L).count() == 0)
    val scanned = df.inputFiles.toSet
    assert(scanned.nonEmpty)
    firstFiles.foreach(p =>
      assert(!scanned.exists(_.endsWith(p)), s"gutted file $p still scanned"))
    // with the only DV'd files pruned, the plan needs no DV filter at all
    assert(!df.queryExecution.executedPlan.toString.contains("graft_dv_deleted"))

    // a PARTIAL delete elsewhere still goes through the mask tier,
    // while the gutted files stay pruned
    assert(t.delete($"id" === 5000L) == 1L)
    val df2 = t.read()
    assert(df2.count() == 3999L)
    assert(df2.queryExecution.executedPlan.toString.contains("graft_dv_deleted"))
    firstFiles.foreach(p => assert(!df2.inputFiles.toSet.exists(_.endsWith(p))))
    // DML through provenance reads sees the same pruned world
    assert(t.delete($"id" <= 4000L) == 0L)
  }

  test("rewrite commits rebase over appends, fail when an input was re-DV'd") {
    import graft.lake.TransactionLog
    val t = LakeTable.forPath(spark, tmpTable())
    t.write((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    t.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read"))
    val base = t.snapshotNow
    val fileA = base.files.head

    // winner 1: a pure append lands after the rewrite's snapshot
    t.write((101L to 120L).map(i => (i, s"v$i")).toDF("id", "v"), "append")

    // a content-sane "null rewrite" of A (re-add with its own
    // descriptor — the same action shape DV-descriptor updates use)
    def nullRewrite() = Seq(
      TransactionLog.commitInfoAction("OPTIMIZE", Map("test" -> "null-rewrite"),
        System.currentTimeMillis()),
      TransactionLog.addAction(fileA.copy(dataChange = false)))

    // rebases over the append: commits at the NEW head, content intact
    val vBefore = t.version
    t.commitRewriteRebase(base, Seq(fileA), nullRewrite())
    assert(t.version == vBefore + 1)
    assert(t.read().count() == 120)

    // winner 2: a merge-on-read DELETE gives A a deletion vector; a
    // rewrite still planned against A-without-DV must now FAIL — its
    // output would resurrect the deleted rows
    val base2 = t.snapshotNow
    assert(t.delete($"id" % 10 === 0 && $"id" <= 100) == 10L)
    assert(t.hasDeletionVectors)
    intercept[java.util.ConcurrentModificationException] {
      t.commitRewriteRebase(base2, Seq(fileA), nullRewrite())
    }
    // the failed rewrite left no commit and no content change
    assert(t.read().count() == 110)
  }

  test("shallow clone of a DV'd table: deletes survive the clone, clone DML composes") {
    val src = tmpTable()
    val dst = java.nio.file.Paths.get(tmpTable()).resolve("dvclone")
    val t = LakeTable.forPath(spark, src)
    t.write((1L to 3000L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    t.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read"))
    assert(t.delete($"id" % 3 === 0) == 1000L)
    assert(t.hasDeletionVectors)

    val c = t.cloneShallowTo(dst)
    // borrowed DV applies: deleted rows must NOT resurrect on the clone
    assert(c.read().count() == 2000)
    assert(c.read().where($"id" % 3 === 0).count() == 0)
    assert(c.read().orderBy("id").collect().toSeq ==
      t.read().orderBy("id").collect().toSeq)

    // clone DML on borrowed DV'd files stays local (clone inherited
    // merge-on-read via the copied metadata)
    assert(c.delete($"id" === 1L) == 1L)
    assert(c.read().count() == 1999)
    assert(t.read().count() == 2000) // source untouched
    c.merge(Seq((2L, "UPD"), (9999L, "NEW")).toDF("id", "v"), Seq("id"))
    assert(c.read().where($"id" === 2L).select("v").as[String].head() == "UPD")
    assert(c.read().count() == 2000)
    assert(t.read().where($"id" === 2L).select("v").as[String].head() == "v2")
    // the clone's vacuum never deletes borrowed data or DV files
    c.vacuum(0L)
    assert(c.read().count() == 2000)
    assert(t.read().count() == 2000)
  }

  test("restore refuses a target whose DV parquet was vacuumed") {
    val t = LakeTable.forPath(spark, tmpTable())
    t.write((1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    t.alterSetProperties(Map(
      "graft.merge.mode" -> "merge-on-read",
      "graft.dv.autoOptimize" -> "false"))
    assert(t.delete($"id" % 10 === 0) == 200L)   // DV parquet A
    val vA = t.version
    assert(t.delete($"id" % 10 === 1) == 200L)   // DV parquet B (carries A forward)
    // A is now unreferenced → vacuum deletes it
    assert(t.vacuum(0L) > 0)
    assert(t.read().count() == 1600) // current state intact (B survives)
    val e = intercept[UserException](t.restore(vA))
    assert(e.getMessage.contains("vacuumed"))
    // the guard PREVENTED the commit — table still readable at head
    assert(t.read().count() == 1600)
  }

  test("foreign/legacy DV descriptors are rejected loudly, not resurrected silently") {
    // A Delta-style descriptor (storageType "p", RoaringBitmap payload)
    // or a pre-fid graft one must fail the snapshot read: defaulting
    // fid=0 would make the numeric mask/anti-join match nothing and
    // silently RESURRECT deleted rows on old tables.
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "append")
    val snapFile = graft.lake.TransactionLog.logDir(java.nio.file.Paths.get(p))
      .resolve("00000000000000000000.json")
    val line = Files.readAllLines(snapFile).asScala
      .find(_.contains("\"add\"")).get
    assert(line.contains("\"dataChange\":true"))
    val poisoned = line.replace("\"dataChange\":true",
      """"dataChange":true,"deletionVector":{"pathOrInlineDv":"x","storageType":"p","cardinality":1,"sizeInBytes":8}""")
    Files.write(snapFile.resolveSibling("00000000000000000001.json"),
      java.util.Arrays.asList(poisoned))
    val e = intercept[UserException](LakeTable.forPath(spark, p).read().count())
    assert(e.getMessage.contains("storageType=p"))
    assert(e.getMessage.contains("deletionVector"))
  }

  test("DV steady-state policy: threshold merges auto-materialize; signal mode stays loud") {
    // autoOptimize on (default) with a low ratio: one scattered DELETE
    // past the threshold leaves NO vectors behind
    val auto = LakeTable.forPath(spark, tmpTable())
    auto.write((1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    auto.alterSetProperties(Map(
      "graft.merge.mode" -> "merge-on-read", "graft.dv.maxRatio" -> "0.2"))
    assert(auto.delete($"id" % 3 === 0) == 666L) // 33% > 20% threshold
    assert(!auto.hasDeletionVectors, "policy should have materialized the DVs")
    assert(auto.read().count() == 1334)
    assert(auto.historyInfo.head.operation == "OPTIMIZE")
    val params = auto.historyInfo.head.operationParameters
    assert(params.get("trigger").contains("dv-threshold"))
    // observability: the silent policy pass is auditable from HISTORY
    // alone — counts, bytes moved, and the DV payload it reclaimed
    assert(params("numRemoved").toInt > 0 && params("numAdded").toInt > 0)
    assert(params("removedBytes").toLong > params("addedBytes").toLong,
      "materializing 33% deletes should shrink the data bytes")
    assert(params("dvBytesReclaimed").toLong > 0)
    assert(params("deletedRowsMaterialized").toLong == 666L)
    assert(!auto.dvOptimizeRecommended)

    // below the threshold nothing fires
    val calm = LakeTable.forPath(spark, tmpTable())
    calm.write((1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    calm.alterSetProperties(Map("graft.merge.mode" -> "merge-on-read"))
    assert(calm.delete($"id" % 10 === 0) == 200L) // 10% < default 50%
    assert(calm.hasDeletionVectors)
    assert(!calm.dvOptimizeRecommended)

    // autoOptimize=false: vectors stay, but the signal is loud
    val manual = LakeTable.forPath(spark, tmpTable())
    manual.write((1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    manual.alterSetProperties(Map(
      "graft.merge.mode" -> "merge-on-read",
      "graft.dv.maxRatio" -> "0.2", "graft.dv.autoOptimize" -> "false"))
    assert(manual.delete($"id" % 3 === 0) == 666L)
    assert(manual.hasDeletionVectors)
    assert(manual.dvOptimizeRecommended)
    assert(manual.compact() > 0) // the recommended action clears it
    assert(!manual.hasDeletionVectors && !manual.dvOptimizeRecommended)

    // byte-ceiling path: ANY vector over the byte budget forces it
    val bytes = LakeTable.forPath(spark, tmpTable())
    bytes.write((1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    bytes.alterSetProperties(Map(
      "graft.merge.mode" -> "merge-on-read", "graft.dv.maxBytes" -> "1"))
    assert(bytes.delete($"id" === 5L) == 1L)
    assert(!bytes.hasDeletionVectors)
    assert(bytes.read().count() == 1999)
  }

  test("checkpointing: O(1) replay after many commits, time travel intact") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    (0 until 13).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("id", "v"), "append"))
    // cadence 10 → checkpoint at version 10 advertised in _last_checkpoint
    val ckpt = java.nio.file.Paths.get(p, "_delta_log", "_last_checkpoint")
    assert(java.nio.file.Files.exists(ckpt))
    assert(java.nio.file.Files.readString(ckpt).contains("\"version\":10"))
    assert(t.read().count() == 13)
    // checkpoint equals pure-JSON replay
    assert(t.read(versionAsOf = 10).count() == 11)
    assert(t.read(versionAsOf = 3).count() == 4) // pre-checkpoint time travel
    val h = t.historyInfo
    assert(h.size == 13)
  }

  test("compaction: many small files → one per partition, data unchanged") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    (0 until 6).foreach { i =>
      t.write(spark.range(i * 10, i * 10 + 10)
        .select($"id", (col("id") % 2).cast("int").as("par")), "append",
        partitionBy = Seq("par"))
    }
    val before = t.read().orderBy("id").as[(Long, Int)].collect().toSeq
    val nFilesBefore = t.snapshotNow.files.size
    assert(nFilesBefore > 2)
    val removed = t.compact()
    assert(removed == nFilesBefore)
    val after = t.read().orderBy("id").as[(Long, Int)].collect().toSeq
    assert(after == before)
    assert(t.snapshotNow.files.size <= 2 * 2) // ≤ a few files per partition
    assert(t.historyInfo.head.operation == "OPTIMIZE")
    // time travel still sees pre-compaction state
    assert(t.read(versionAsOf = 0).count() == 10)
  }

  test("data skipping: selective filters open only matching files") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    // 5 appends with disjoint id ranges → 5+ files with disjoint min/max
    (0 until 5).foreach(i =>
      t.write(spark.range(i * 100, i * 100 + 100).toDF("id").coalesce(1), "append"))
    val total = t.snapshotNow.files.size
    assert(total >= 5)

    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    // point lookup: only the file whose [min,max] covers 250
    val point = t.read().where($"id" === 250)
    assert(point.count() == 1)
    assert(filesScanned(t.read().where($"id" === 250)) == 1)
    // range: ids 150..349 span exactly 3 files
    assert(filesScanned(t.read().where($"id" >= 150 && $"id" < 350)) == 3)
    // stats recorded in the log
    val f = t.snapshotNow.files.head
    assert(f.numRecords.contains(100L))
    assert(f.minValues.contains("id") && f.maxValues.contains("id"))
  }

  test("clustered compaction turns full scans into single-file point reads") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    // 5 appends, each covering the FULL id range → stats overlap, no skipping
    (0 until 5).foreach { i =>
      t.write(spark.range(1000).select((col("id") * 5 + i).as("id")).coalesce(1), "append")
    }
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    assert(filesScanned(t.read().where($"id" === 2500)) == 5) // overlapping ranges
    t.compactSorted(Seq("id"), targetFiles = 5)
    assert(t.read().count() == 5000)
    assert(filesScanned(t.read().where($"id" === 2500)) == 1) // disjoint ranges now
    assert(t.historyInfo.head.operation == "OPTIMIZE")
  }

  test("update: copy-on-write column assignment against old row values") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x"), "append")
    t.write(Seq((3L, "c", 30.0)).toDF("id", "v", "x"), "append")
    val before = t.snapshotNow.files.map(_.path).toSet
    val n = t.update($"id" === 2L, Map("x" -> ($"x" * 10), "v" -> lit("B")))
    assert(n == 1L)
    val rows = t.read().orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "a", 10.0), (2L, "B", 200.0), (3L, "c", 30.0)))
    // file holding id=3 untouched
    assert(t.snapshotNow.files.map(_.path).toSet.intersect(before).nonEmpty)
    assert(t.historyInfo.head.operation == "UPDATE")
    assert(intercept[graft.core.UserException](
      t.update($"id" === 1L, Map("nope" -> lit(1)))).getMessage.contains("unknown columns"))
    assert(t.update($"id" === 999L, Map("x" -> lit(0.0))) == 0L)
  }

  test("z-order clustering: box queries skip on both dimensions") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    // 40k points on a 200x200 grid, ingested row-major (y-banded files)
    t.write(spark.range(40000).select(
      ($"id" % 200).as("x"), expr("id DIV 200").as("y")).repartitionByRange(8, $"id"),
      "append")
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    val total = t.snapshotNow.files.size
    val xQ = () => t.read().where($"x".between(10, 30))
    val boxQ = () => t.read().where($"x".between(10, 30) && $"y".between(10, 30))
    // y-banded layout: x-filters can't prune anything
    assert(filesScanned(xQ()) == total)
    t.compactZOrder(Seq("x", "y"), targetFiles = 16)
    assert(t.read().count() == 40000)
    assert(xQ().count() == 21 * 200 && boxQ().count() == 441)
    // after z-ordering, BOTH dimensions prune
    val xAfter = filesScanned(xQ())
    assert(xAfter <= 8, s"x-slice should skip most z-ordered files, scanned $xAfter/16")
    val boxAfter = filesScanned(boxQ())
    assert(boxAfter <= 4, s"10% box should confine to few files, scanned $boxAfter/16")
    val yAfter = filesScanned(t.read().where($"y".between(10, 30)))
    assert(yAfter <= 8, s"y-slice still prunes, scanned $yAfter/16")
  }

  test("delete: copy-on-write, untouched files survive, null-safe condition") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "append")
    t.write(Seq((3L, "c"), (4L, null.asInstanceOf[String])).toDF("id", "v"), "append")
    val before = t.snapshotNow.files.map(_.path).toSet
    // deletes only v='c'; v=null rows kept (NULL condition ≠ true)
    val n = t.delete($"v" === "c")
    assert(n == 1L)
    assert(t.read().orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L, 4L))
    // the (1,2) file was never touched
    assert(t.snapshotNow.files.map(_.path).toSet.intersect(before).nonEmpty)
    assert(t.historyInfo.head.operation == "DELETE")
    // no-match delete is a no-op commit-wise
    val v = t.version
    assert(t.delete($"id" === 999L) == 0L)
    assert(t.version == v)
  }

  test("data skipping on strings and nulls") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "apple"), (2L, "banana")).toDF("id", "v").coalesce(1), "append")
    t.write(Seq((3L, "mango"), (4L, "peach")).toDF("id", "v").coalesce(1), "append")
    t.write(Seq((5L, null.asInstanceOf[String])).toDF("id", "v").coalesce(1), "append")
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    // equality on a string lands in exactly one file's [min,max]
    assert(filesScanned(t.read().where($"v" === "mango")) == 1)
    // IS NULL: only the file with nullCount > 0 (plus unknown-stats files)
    assert(filesScanned(t.read().where($"v".isNull)) == 1)
    assert(t.read().where($"v".isNull).count() == 1)
    // range over strings
    assert(filesScanned(t.read().where($"v" < "c")) == 1)
  }

  test("merge on a partitioned table preserves partitioning and prunes files") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    val df = spark.range(40).select($"id", (col("id") % 4).cast("int").as("par"),
      lit(1.0).as("x"))
    t.write(df, "append", partitionBy = Seq("par"))
    t.merge(Seq((2L, 2, 99.0), (100L, 1, 50.0)).toDF("id", "par", "x"), Seq("id"))
    val snap = t.snapshotNow
    assert(snap.metadata.partitionColumns == Seq("par"))
    assert(snap.files.forall(_.partitionValues.contains("par")))
    val rows = t.read().where($"x" =!= 1.0).orderBy("id")
      .as[(Long, Int, Double)].collect().toSeq
    assert(rows == Seq((2L, 2, 99.0), (100L, 1, 50.0)))
    assert(t.read().count() == 41)
  }

  test("concurrent appends: optimistic retry lands every commit exactly once") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((0L, "seed")).toDF("id", "v"), "append")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 6).map { i =>
      Future(t.write(Seq((i.toLong, s"w$i")).toDF("id", "v"), "append"))
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(t.version == 6L) // 7 commits, 0-based
    assert(t.read().count() == 7)
    assert(t.read().select("id").as[Long].collect().toSet == (0L to 6L).toSet)
  }

  test("format(\"graft\") data source: load, time travel option, SQL USING") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "append")
    t.write(Seq((3L, "c")).toDF("id", "v"), "append")
    assert(spark.read.format("graft").load(p).count() == 3)
    assert(spark.read.format("graft.lake").load(p).count() == 3)
    assert(spark.read.format("graft").option("versionAsOf", "0").load(p).count() == 2)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_sql_t USING graft OPTIONS (path '$p')")
    assert(spark.sql("SELECT count(*) FROM graft_sql_t").head().getLong(0) == 3)
    assert(spark.sql("SELECT v FROM graft_sql_t WHERE id = 2").head().getString(0) == "b")
  }

  test("format(\"graft\") write path: modes, partitionBy option, ignore") {
    val p = tmpTable()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.format("graft").mode("errorifexists").save(p)
    val t = LakeTable.forPath(spark, p)
    assert(t.read().count() == 2)
    Seq((3L, "c")).toDF("id", "v").write.format("graft").mode("append").save(p)
    assert(t.read().count() == 3)
    Seq((9L, "z")).toDF("id", "v").write.format("graft").mode("overwrite").save(p)
    assert(t.read().count() == 1)
    Seq((8L, "y")).toDF("id", "v").write.format("graft").mode("ignore").save(p)
    assert(t.read().count() == 1) // ignored on existing table
    intercept[graft.core.UserException] {
      Seq((7L, "x")).toDF("id", "v").write.format("graft").mode("errorifexists").save(p)
    }
    // partitioned via option
    val p2 = tmpTable()
    spark.range(20).select($"id", (col("id") % 2).cast("int").as("par"))
      .write.format("graft").option("partitionBy", "par").mode("append").save(p2)
    assert(LakeTable.forPath(spark, p2).snapshotNow.metadata.partitionColumns == Seq("par"))
  }

  test("writeStream.format(\"graft\") sink ingests micro-batches") {
    val root = java.nio.file.Files.createTempDirectory("graft-sink")
    val in = root.resolve("in"); java.nio.file.Files.createDirectories(in)
    val lakeDir = root.resolve("lake")
    spark.range(0, 7).select($"id", lit("s").as("v")).coalesce(1)
      .write.mode("overwrite").parquet(root.resolve("stage").toString)
    val it = java.nio.file.Files.list(root.resolve("stage")).iterator()
    it.forEachRemaining { f =>
      if (f.toString.endsWith(".parquet"))
        java.nio.file.Files.copy(f, in.resolve("d1.parquet"))
    }
    val schema = spark.range(0).select($"id", lit("s").as("v")).schema
    val q = spark.readStream.schema(schema).parquet(in.toString)
      .writeStream.format("graft")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start(lakeDir.toString)
    q.processAllAvailable(); q.stop()
    assert(LakeTable.forPath(spark, lakeDir.toString).read().count() == 7)
  }

  test("robustness: null-literal filters, empty writes, corrupt log") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a")).toDF("id", "v"), "append")
    // null-literal comparison must not crash the skipping evaluator
    assert(t.read().where($"id" === lit(null).cast("long")).count() == 0)
    // appending an empty frame is a legal no-row commit
    t.write(Seq.empty[(Long, String)].toDF("id", "v"), "append")
    assert(t.read().count() == 1)
    // a non-table path fails with a clear error
    val bogus = LakeTable.forPath(spark, tmpTable().toString)
    val e = intercept[IllegalStateException](bogus.read())
    assert(e.getMessage.contains("no _delta_log"))
    // corrupt trailing commit surfaces as an error, not silent data loss
    val logDir = java.nio.file.Paths.get(p, "_delta_log")
    java.nio.file.Files.writeString(
      logDir.resolve("00000000000000000002.json"), "{not json")
    intercept[Exception](t.read().count())
  }

  test("time travel + history + vacuum") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a")).toDF("id", "v"), "append")
    t.write(Seq((2L, "b")).toDF("id", "v"), "append")
    t.write(Seq((9L, "z")).toDF("id", "v"), "overwrite")
    assert(t.read(versionAsOf = 0).count() == 1)
    assert(t.read(versionAsOf = 1).count() == 2)
    assert(t.read().count() == 1)
    val h = t.historyInfo
    assert(h.size == 3 && h.head.operation == "WRITE.Overwrite")
    val removed = t.vacuum()
    assert(removed >= 2) // the two pre-overwrite files
    assert(t.read().count() == 1)
    assert(intercept[IllegalArgumentException](t.read(versionAsOf = 99))
      .getMessage.contains("does not exist"))
  }

  test("timestamp time travel resolves the newest commit at-or-before") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a")).toDF("id", "v"), "append")
    val t0 = t.historyInfo.head.timestamp
    Thread.sleep(20)
    t.write(Seq((2L, "b")).toDF("id", "v"), "append")
    val t1 = t.historyInfo.head.timestamp
    assert(t.readAsOfTimestamp(t0).count() == 1)
    assert(t.readAsOfTimestamp(t1).count() == 2)
    assert(t.readAsOfTimestamp(System.currentTimeMillis()).count() == 2)
    assert(intercept[graft.core.UserException](t.readAsOfTimestamp(t0 - 100000))
      .getMessage.contains("No commit"))
    // the format() option too
    val viaOption = spark.read.format("graft")
      .option("timestampAsOf", t0.toString).load(p.toString)
    assert(viaOption.count() == 1)
  }

  test("shallow clone: zero-copy, diverges independently, source untouched") {
    val src = tmpTable()
    val dst = java.nio.file.Paths.get(tmpTable()).resolve("clone")
    val t = LakeTable.forPath(spark, src)
    t.write((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), "append")
    val srcFiles = t.snapshotNow.files.map(_.path).toSet
    val c = t.cloneShallowTo(dst)
    // no data copied: clone dir contains only the log
    val copied = java.nio.file.Files.walk(dst).iterator()
    var dataFiles = 0
    copied.forEachRemaining(p => if (p.toString.endsWith(".parquet")) dataFiles += 1)
    assert(dataFiles == 0)
    assert(c.read().count() == 100)
    // clone diverges: merge + append + DDL stay local to the clone
    c.merge(Seq((1L, "UPD")).toDF("id", "v"), Seq("id"))
    c.write(Seq((200L, "new")).toDF("id", "v"), "append")
    c.alterAddColumn("extra", org.apache.spark.sql.types.DoubleType)
    assert(c.read().count() == 101)
    assert(c.read().where($"id" === 1L).select("v").as[String].head() == "UPD")
    assert(t.read().count() == 100) // source unchanged
    assert(t.read().where($"id" === 1L).select("v").as[String].head() == "v1")
    assert(t.snapshotNow.files.map(_.path).toSet == srcFiles)
    assert(t.read().columns.toSeq == Seq("id", "v"))
    // the clone's vacuum never deletes borrowed source files
    c.vacuum()
    assert(t.read().count() == 100)
    // updates/deletes on borrowed files rewrite locally
    assert(c.update($"id" === 2L, Map("v" -> lit("U2"))) == 1L)
    assert(c.delete($"id" === 3L) == 1L)
    assert(c.read().count() == 100)
    assert(t.read().count() == 100)
    intercept[graft.core.UserException](t.cloneShallowTo(dst)) // exists
  }

  test("partitioned shallow clone: DML over mixed borrowed/local files") {
    val src = tmpTable()
    val dst = java.nio.file.Paths.get(tmpTable()).resolve("pclone")
    val t = LakeTable.forPath(spark, src)
    t.write((1L to 40L).map(i => (i, s"v$i", s"p${i % 2}")).toDF("id", "v", "p"),
      "append", partitionBy = Seq("p"))
    val c = t.cloneShallowTo(dst)
    assert(c.read().where($"p" === "p1").count() == 20)
    // first merge rewrites borrowed files into local ones
    c.merge(Seq((1L, "UPD", "p1"), (99L, "NEW", "p1")).toDF("id", "v", "p"), Seq("id"))
    assert(c.read().count() == 41)
    // second merge now spans BOTH a borrowed file (p0, still source-
    // rooted) and a local file (p1 rewrite) — one rewrite set, two
    // roots; partition values must come from the log, not basePath
    c.merge(Seq((2L, "U2", "p0"), (1L, "U1", "p1")).toDF("id", "v", "p"), Seq("id"))
    assert(c.read().where($"id" === 2L).select("v").as[String].head() == "U2")
    assert(c.read().where($"id" === 1L).select("v").as[String].head() == "U1")
    assert(c.read().count() == 41)
    // partition column values survived the mixed-root rewrite
    assert(c.read().where($"p" === "p0").count() == 20)
    assert(c.read().where($"id" === 99L).select("p").as[String].head() == "p1")
    // source never changed
    assert(t.read().count() == 40)
    // nested clone destinations are rejected (source vacuum would eat
    // the clone's own files)
    intercept[graft.core.UserException](
      t.cloneShallowTo(java.nio.file.Paths.get(src).resolve("nested")))
  }

  test("prefix filters skip files via string min/max stats") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    // three appends with disjoint key prefixes → disjoint string ranges
    Seq("alpha", "golf", "tango").foreach { pref =>
      t.write((1 to 50).map(i => (f"$pref-$i%03d", i)).toDF("k", "n").coalesce(1), "append")
    }
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    assert(t.read().where($"k".startsWith("golf")).count() == 50)
    assert(filesScanned(t.read().where($"k".startsWith("golf"))) == 1)
    assert(filesScanned(t.read().where($"k".startsWith("zulu"))) == 0)
    // correctness guard: prefix straddling a range boundary keeps files
    assert(t.read().where($"k".startsWith("t")).count() == 50)
  }

  test("deep clone copies data and carries layout + constraints, not mapping") {
    val src = tmpTable()
    val dst = java.nio.file.Paths.get(tmpTable()).resolve("deep")
    val t = LakeTable.forPath(spark, src)
    t.write((1L to 100L).map(i => (i, i * 1.5)).toDF("k", "score"), "overwrite",
      bucketBy = Some(graft.lake.Bucketing(4, Seq("k"))))
    t.alterRenameColumn("score", "quality") // source is column-mapped
    t.addConstraint("pos", "quality > 0")
    val c = t.cloneDeepTo(dst)
    assert(c.read().count() == 100)
    assert(c.read().columns.toSeq == Seq("k", "quality"))
    assert(c.bucketing.contains(graft.lake.Bucketing(4, Seq("k"))))
    assert(c.constraints.keySet == Set("pos"))
    // own files: source vacuum cannot hurt the deep clone
    t.write(Seq((999L, 9.9)).toDF("k", "quality"), "overwrite")
    t.vacuum()
    assert(c.read().count() == 100)
    // constraint carried over and enforces (against the renamed name)
    intercept[graft.core.UserException](
      c.write(Seq((5L, -1.0)).toDF("k", "quality"), "append"))
  }

  test("restore rewinds state as a new, undoable commit") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a")).toDF("id", "v"), "append")          // v0
    t.write(Seq((2L, "b")).toDF("id", "v"), "append")          // v1
    t.write(Seq((9L, "z")).toDF("id", "v"), "overwrite")       // v2
    t.restore(1)                                               // v3 = state of v1
    assert(t.read().select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(t.historyInfo.head.operation == "RESTORE")
    t.restore(2)                                               // v4 = state of v2 (undo the undo)
    assert(t.read().select("id").as[Long].collect().toSet == Set(9L))
    // restore across a schema change reinstates the old metadata
    t.alterAddColumn("extra", org.apache.spark.sql.types.DoubleType) // v5
    t.restore(2)                                               // v6
    assert(t.read().columns.toSeq == Seq("id", "v"))
    // vacuumed target files are detected, not silently resurrected
    t.vacuum()
    val err = intercept[graft.core.UserException](t.restore(1))
    assert(err.getMessage.contains("vacuumed"))
  }

  test("append retry surfaces concurrent DDL instead of clobbering it") {
    val p = tmpTable()
    val t = LakeTable.forPath(spark, p)
    t.write(Seq((1L, "a")).toDF("id", "v"), "append") // v0
    // inject a concurrent constraint commit between this write's
    // planning and its first commit attempt (deterministic race)
    var fired = false
    t.testCommitAttemptHook = _ => if (!fired) {
      fired = true
      LakeTable.forPath(spark, p).addConstraint("pos_id", "id > 0")
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        t.write(Seq((2L, "b")).toDF("id", "v"), "append"))
      assert(e.getMessage.contains("metadata change"))
    } finally t.testCommitAttemptHook = _ => ()
    // the concurrent DDL survived (NOT overwritten by a stale retry)
    val t2 = LakeTable.forPath(spark, p)
    assert(t2.constraints.contains("pos_id"))
    assert(t2.read().count() == 1) // the losing write landed nothing
    // a fresh write planned against the new metadata succeeds
    t2.write(Seq((2L, "b")).toDF("id", "v"), "append")
    assert(t2.read().count() == 2)
  }
}
