package graft

import graft.operators.{MergeOps, StageCast}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based semantics checks (SURVEY.md §7.6.4): upsert
  * idempotence, append associativity, overwrite last-write-wins, cast
  * round-trip stability — on generated row sets with fixed seeds
  * (scalacheck Gen driven directly; deterministic across runs).
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, String, Double)]] =
    Gen.listOfN(30, for {
      id <- Gen.choose(0L, 15L)
      s <- Gen.alphaStr.map(_.take(8))
      d <- Gen.choose(-1e6, 1e6).map(x => math.rint(x * 100) / 100)
    } yield (id, s, d))

  private def sample(seed: Long): List[(Long, String, Double)] =
    rowsGen.pureApply(Gen.Parameters.default, Seed(seed))

  private def df(rows: List[(Long, String, Double)]): DataFrame =
    rows.toDF("id", "s", "v")

  private def canon(d: DataFrame): Set[(Long, String, Double)] =
    d.as[(Long, String, Double)].collect().toSet

  private def multiset(d: DataFrame): Map[(Long, String, Double), Long] =
    d.as[(Long, String, Double)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("setOverlap equals brute-force intersection on random docs/pairs") {
    val docGen: Gen[List[(Long, String)]] = Gen.listOfN(24, for {
      id <- Gen.choose(0L, 23L)
      ws <- Gen.listOfN(12, Gen.oneOf("alpha", "beta", "gamma", "delta",
        "eps", "zeta", "eta", "theta"))
    } yield (id, ws.mkString(" ")))
    for (seed <- 1L to 4L) {
      val docs0 = docGen.pureApply(Gen.Parameters.default, Seed(seed))
        .distinctBy(_._1)
      val docsDf = docs0.toDF("doc_id", "text")
      val ids = docs0.map(_._1)
      val pairs = (for (a <- ids; b <- ids if a < b) yield (a, b)).take(40)
      val got = graft.operators.Dedup
        .shingleOverlap(docsDf, "doc_id", "text", pairs.toDF("id_a", "id_b"))
        .as[(Long, Long, Int, Int)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      // brute-force reference over in-memory shingle sets
      def shingles(t: String): Set[String] = {
        val ws = t.split("\\s+").toSeq
        if (ws.length < 3) Set(t)
        else ws.sliding(3).map(_.mkString(" ")).toSet
      }
      val byId = docs0.toMap
      for ((a, b) <- pairs) {
        val (sa, sb) = (shingles(byId(a)), shingles(byId(b)))
        assert(got((a, b)) == ((sa & sb).size, (sa | sb).size),
          s"seed=$seed pair=($a,$b)")
      }
    }
  }

  test("connected components: adaptive and distributed paths equal union-find on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] = Gen.listOfN(40, for {
      a <- Gen.choose(0L, 29L); b <- Gen.choose(0L, 29L)
    } yield (a, b))
    for (seed <- 1L to 4L) {
      val edges = edgeGen.pureApply(Gen.Parameters.default, Seed(seed))
        .filter { case (a, b) => a != b }
      // in-memory union-find reference
      val parent = collection.mutable.Map((0L until 30L).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0L until 30L).map(i => i -> find(i)).toMap
      val verts = (0L until 30L).toDF("id")
      val e = edges.toDF("id_a", "id_b")
      for (threshold <- Seq(0L, 1000000L)) {
        val got = graft.operators.ConnectedComponents
          .labels(verts, "id", e, smallGraphMaxEdges = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"seed=$seed threshold=$threshold")
      }
    }
  }

  test("upsert is idempotent: upsert(upsert(t, s), s) == upsert(t, s)") {
    for (seed <- 1L to 6L) {
      val target = df(sample(seed))
      // PK-unique source (duplicate source keys make MERGE ambiguous)
      val source = df(sample(seed + 100)).dropDuplicates("id")
      val once = MergeOps.upsert(target, source, Seq("id"))
      val twice = MergeOps.upsert(once, source, Seq("id"))
      assert(canon(once) == canon(twice), s"seed=$seed")
    }
  }

  test("upsert result keys = target keys ∪ source keys; source rows win") {
    for (seed <- 1L to 6L) {
      val target = df(sample(seed))
      val source = df(sample(seed + 200)).dropDuplicates("id")
      val out = MergeOps.upsert(target, source, Seq("id"))
      val outKeys = out.select("id").as[Long].collect().toSet
      val tKeys = target.select("id").as[Long].collect().toSet
      val sKeys = source.select("id").as[Long].collect().toSet
      assert(outKeys == (tKeys ++ sKeys), s"seed=$seed")
      assert(canon(source).subsetOf(canon(out)), s"seed=$seed")
    }
  }

  test("append is associative as multisets") {
    for (seed <- 1L to 4L) {
      val (a, b, c) = (df(sample(seed)), df(sample(seed + 300)), df(sample(seed + 400)))
      val left = MergeOps.append(MergeOps.append(a, b), c)
      val right = MergeOps.append(a, MergeOps.append(b, c))
      assert(multiset(left) == multiset(right), s"seed=$seed")
    }
  }

  test("overwrite is last-write-wins regardless of prior state") {
    for (seed <- 1L to 4L) {
      val (a, b) = (df(sample(seed)), df(sample(seed + 500)))
      assert(multiset(MergeOps.overwrite(a, b)) == multiset(b), s"seed=$seed")
    }
  }

  test("randomized DML sequences: merge-on-read ≡ copy-on-write after every step") {
    // The adversarial harness for the whole MoR surface: the same
    // random program of append/merge/delete/update/compact runs
    // against twin tables, one copy-on-write, one merge-on-read, with
    // per-step content equality. Seeds vary the DV read tier (mask vs
    // forced anti-join) and the steady-state policy threshold (an
    // aggressive maxRatio fires auto-materialization mid-sequence, so
    // cumulative DVs, policy rewrites, and rebases all interleave).
    import graft.lake.LakeTable
    import org.apache.spark.sql.functions.{col, lit}
    def tmp(): String =
      java.nio.file.Files.createTempDirectory("graft-dmlfuzz").resolve("t").toString
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      val cow = LakeTable.forPath(spark, tmp())
      val mor = LakeTable.forPath(spark, tmp())
      def batch(n: Int): DataFrame =
        (1 to n).map(_ => (rnd.nextLong(400), s"s${rnd.nextInt(1000)}",
          rnd.nextInt(1000) * 1.0)).toDF("id", "s", "v")
          .dropDuplicates("id")
      val seed0 = batch(300)
      cow.write(seed0, "append"); mor.write(seed0, "append")
      val morProps = Map("graft.merge.mode" -> "merge-on-read") ++
        (if (seed % 2 == 0) Map("graft.dv.maxRatio" -> "0.05") else Map.empty)
      mor.alterSetProperties(morProps)
      if (seed == 3) spark.conf.set(LakeTable.DvMaskMaxRowsKey, "0") // anti-join tier
      try {
        for (step <- 1 to 10) {
          rnd.nextInt(10) match {
            case 0 | 1 =>
              val b = batch(80); cow.write(b, "append"); mor.write(b, "append")
            case 2 | 3 | 4 =>
              val d = batch(120)
              cow.merge(d, Seq("id")); mor.merge(d, Seq("id"))
            case 5 | 6 =>
              val m = 2 + rnd.nextInt(9); val r = rnd.nextInt(m)
              assert(cow.delete(col("id") % m === r) ==
                mor.delete(col("id") % m === r), s"seed=$seed step=$step delete count")
            case 7 | 8 =>
              val m = 2 + rnd.nextInt(9); val r = rnd.nextInt(m)
              assert(cow.update(col("id") % m === r,
                Map("s" -> lit(s"u$step"), "v" -> (col("v") + 1))) ==
                mor.update(col("id") % m === r,
                  Map("s" -> lit(s"u$step"), "v" -> (col("v") + 1))),
                s"seed=$seed step=$step update count")
            case 9 =>
              mor.compact() // content-preserving maintenance, MoR side only
          }
          val a = cow.read().orderBy("id", "s", "v").collect().toSeq
          val b = mor.read().orderBy("id", "s", "v").collect().toSeq
          assert(a == b, s"seed=$seed step=$step: cow=${a.size} mor=${b.size}")
        }
        // end state: OPTIMIZE + vacuum leave content identical
        val expect = mor.read().orderBy("id").collect().toSeq
        mor.compact(); mor.vacuum(0L)
        assert(mor.read().orderBy("id").collect().toSeq == expect, s"seed=$seed final")
      } finally spark.conf.unset(LakeTable.DvMaskMaxRowsKey)
    }
  }

  test("stage round trip is lossless for typed rows") {
    for (seed <- 1L to 4L) {
      val d = df(sample(seed))
      assert(multiset(StageCast.stageRoundTrip(d)) == multiset(d), s"seed=$seed")
    }
  }

  test("connected components equal union-find on random graphs") {
    val edgesGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(40, for {
        a <- Gen.choose(0L, 29L); b <- Gen.choose(0L, 29L)
      } yield (a, b))
    (1L to 5L).foreach { seed =>
      val edges = edgesGen.pureApply(Gen.Parameters.default, Seed(seed))
        .filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map((0L until 30L).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0L until 30L).map(i => i -> find(i)).toMap
      val got = graft.operators.ConnectedComponents
        .labels((0L until 30L).toDF("id"), "id", edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"seed=$seed edges=$edges")
    }
  }

  test("text kernels equal their HOF forms on adversarial random strings") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Decontamination, Dedup, Scrubbing, TextAnalysis}
    // strings that stress tokenization: mixed whitespace runs, unicode,
    // empties, repeats, punctuation — the places a hand-rolled split or
    // substring loop would drift from Spark's semantics
    val token = Gen.oneOf("a", "bb", "Ccc", "δοκ", "x7", "!?", "—", "a.b",
      "", " ", "\t", "\n", "longtokenlongtoken", "ümlaut", "日本語")
    val textGen = Gen.listOfN(20, token).map(_.mkString(" "))
    val docGen = Gen.listOfN(60, textGen)
    for (seed <- 1L to 3L) {
      val texts = docGen.pureApply(Gen.Parameters.default, Seed(seed))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def same(a: DataFrame, b: DataFrame, what: String): Unit =
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$what diverged at seed=$seed")
      same(Dedup.minhashSignatures(docs, "doc_id", "text", 8).withColumnRenamed("id", "doc_id"),
        ReferenceForms.perRowSignaturesExpr(docs, "doc_id", "text", 8), "minhash")
      same(Dedup.simhashTable(docs, "doc_id", "text"),
        ReferenceForms.simhashTableExpr(docs, "doc_id", "text"), "simhash")
      same(Scrubbing.repetitionStats(docs, "doc_id", "text"),
        ReferenceForms.repetitionStatsExpr(docs, "doc_id", "text"), "repetition")
      same(docs.select(TextAnalysis.fingerprint(col("text"))),
        docs.select(ReferenceForms.fingerprintExpr(col("text"))), "fingerprint")
      same(
        docs.select(col("doc_id"),
          explode(graft.functions.TextKernelFunctions.shingleHashes(col("text")))),
        docs.select(col("doc_id"),
            explode(array_distinct(Dedup.shingles(col("text")))).as("s"))
          .select(col("doc_id"),
            conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")),
        "shingle hashes")
      same(
        docs.select(col("doc_id"),
          explode(graft.functions.TextKernelFunctions.charNgrams(col("text"), 3))),
        docs.select(col("doc_id"), explode(Dedup.charNgrams(col("text"), 3))),
        "char ngrams")
      same(
        docs.select(col("doc_id"),
          explode(Decontamination.wordNgramHashes(col("text"), 5))),
        docs.select(col("doc_id"),
          explode(ReferenceForms.wordNgramHashesExpr(col("text"), 5))),
        "gram hashes")
      same(TextAnalysis.textStats(docs, "doc_id", "text"),
        docs.select(col("doc_id"),
          TextAnalysis.wordCount(col("text")).cast("long").as("n_words"),
          TextAnalysis.uniqueWordCount(col("text")).cast("long").as("n_uniq"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.punctCount(col("text")).cast("long").as("n_punct"),
          TextAnalysis.longestWordLen(col("text")).cast("long").as("longest_word")),
        "text stats")
    }
  }

  test("concurrent writers: racing appenders + compactor lose no rows, log stays linear") {
    // The OCC design under real thread interleaving: N appenders
    // optimistically retry into successive versions while a compactor
    // repeatedly rewrites from pinned snapshots (losing compactions
    // surface as ConcurrentModificationException and retry). The log
    // must come out linear — contiguous versions, every historical
    // snapshot readable — and the final table must hold EXACTLY the
    // union of the appended batches: no lost rows, no duplicates.
    import graft.lake.{LakeTable, TransactionLog}
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val dir = java.nio.file.Files.createTempDirectory("graft-race").resolve("t")
    val lake = new LakeTable(spark, dir)
    // CREATE first (version 0), like every real flow: a concurrent
    // first-commit is a metadata race and fails loudly BY DESIGN
    // (the "created concurrently" guard) — only appends onto an
    // existing table are retryable
    spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, writer STRING) USING graft")

    val writers = 4
    val batches = 4
    val rowsPerBatch = 10
    val pool = Executors.newFixedThreadPool(writers + 1)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try {
            (0 until batches).foreach { b =>
              val base = (w * batches + b) * rowsPerBatch
              lake.write(
                spark.range(base, base + rowsPerBatch)
                  .selectExpr("id", s"'w$w' AS writer").toDF(),
                mode = "append")
            }
          } catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    pool.submit(new Runnable {
      override def run(): Unit = {
        start.await()
        try {
          var compactions = 0
          var attempts = 0
          // keep compacting while the appenders churn; a lost race is
          // the EXPECTED loud outcome, retried like a real maintenance
          // job would
          while (compactions < 3 && attempts < 60) {
            attempts += 1
            try {
              if (TransactionLog.tableExists(dir) && lake.compact(minFilesPerPartition = 2) > 0)
                compactions += 1
            } catch { case _: java.util.ConcurrentModificationException => () }
            Thread.sleep(20)
          }
        } catch { case t: Throwable => failures.add(t) }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "writer race timed out")
    assert(failures.isEmpty, s"unexpected writer failure: ${failures.peek()}")

    // no lost rows, no duplicates: exactly the union of all batches
    val got = lake.read().select("id").as[Long].collect().sorted.toSeq
    val want = (0L until (writers * batches * rowsPerBatch).toLong)
    assert(got == want, s"expected ${want.size} distinct rows, got ${got.size}")

    // log linearizability: versions contiguous from 0, every snapshot
    // readable, and row counts never decrease across appends (compaction
    // preserves count)
    val hist = TransactionLog.history(dir).sortBy(_.version)
    assert(hist.map(_.version) == (0L until hist.size.toLong))
    var prevCount = -1L
    hist.foreach { ci =>
      val n = lake.read(versionAsOf = ci.version).count()
      assert(n >= prevCount,
        s"row count shrank at version ${ci.version}: $prevCount -> $n")
      prevCount = n
    }
    assert(prevCount == want.size.toLong)
  }
}
