package graft

import graft.operators.{BoundedCollect, Sampling, Similarity, TextAnalysis}
import graft.operators.BoundedCollect.{ByteCap, Collected, Overflow, RowCap}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BoundedCollectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import JobTrace.Traced

  private def traced(body: => Any): Traced = JobTrace.traced(spark)(body)

  /** What `parts` result tasks send with no rows at all: their
    * status and metrics.
    */
  private def emptyResultBytes(parts: Int): Long =
    traced(spark.sparkContext.parallelize(1 to parts, parts)
      .mapPartitions(_ => Iterator.single(0L)).collect()).resultBytes

  test("bounded collect: rows in partition order with their exact bytes, one job") {
    val df = spark.sparkContext.parallelize(1L to 100L, 4).toDF("v")
    var out: BoundedCollect.Outcome = null
    val t = traced { out = BoundedCollect(df, 100, 1600) }
    assert(t.jobs == 1)
    out match {
      case c: Collected =>
        // one BIGINT column: 8 null-bit bytes + one 8-byte slot per row
        assert(c.bytes == 1600L)
        assert(c.toRows.map(_.getLong(0)).toSeq == (1L to 100L))
      case other => fail(s"100 rows fit (100 rows, 1600 B), got $other")
    }
    BoundedCollect(df, 99, 1600) match {
      case o: Overflow => assert(o.cap == RowCap && o.describe == "row cap 99 rows", o.toString)
      case other => fail(s"expected the row cap, got $other")
    }
    BoundedCollect(df, 100, 1599) match {
      case o: Overflow => assert(o.cap == ByteCap && o.effectiveRows == 99L, o.toString)
      case other => fail(s"expected the byte cap, got $other")
    }
  }

  test("bounded collect: multi-KB words never exceed the byte cap on the driver") {
    // the pathological vocabulary: few rows, each far over the cap.
    // Each task passes the byte cap on its first row and ships only
    // its counts, so the job moves less than ONE row to the driver
    val rowChars = 64 * 1024
    val words = spark.sparkContext
      .parallelize((1 to 8).map(i => ("abcdefgh" * (rowChars / 8)) + i), 4).toDF("word")
    val cap = 16L * 1024
    var out: BoundedCollect.Outcome = null
    val t = traced { out = BoundedCollect(words, 1L << 20, cap) }
    out match {
      case o: Overflow =>
        assert(o.cap == ByteCap, o.toString)
        assert(o.describe.startsWith(s"byte cap $cap bytes"), o.describe)
        assert(o.peakKeptBytes == 0L, o.toString)
      case other => fail(s"expected the byte cap, got $other")
    }
    assert(t.jobs == 1)
    assert(t.resultBytes < rowChars,
      s"tasks over the cap must ship nothing: ${t.resultBytes} result bytes")
    // rows under the cap per task, over it in total: each row is over
    // its task's share of the cap, so the tasks ship only counts and
    // the driver never holds more than the cap
    val mid = spark.sparkContext
      .parallelize((1 to 4).map(i => ("w" * 4096) + i), 4).toDF("word")
    val tMid = traced { out = BoundedCollect(mid, 1L << 20, 10L * 1024) }
    out match {
      case o: Overflow =>
        assert(o.cap == ByteCap && o.seenRows == 4L, o.toString)
        assert(o.peakKeptBytes <= 10L * 1024, o.toString)
      case other => fail(s"expected the byte cap, got $other")
    }
    assert(tMid.jobs == 1)
    val midRowBytes = tMid.resultBytes - emptyResultBytes(4)
    assert(midRowBytes < 4096, s"the tasks sent $midRowBytes bytes of rows for a 10 KB cap")
  }

  test("bounded collect: a frame over the cap in many small partitions sends at most the cap") {
    // 32 partitions of 12 rows of ~1 KB: each partition (~12.5 KB) is
    // under the 16 KB cap, the frame (~400 KB) is far over it. Tasks
    // ship rows only within their share of the cap (cap / 32), so the
    // job sends about the cap, not the frame
    val parts = 32
    val frame = spark.sparkContext
      .parallelize((1 to parts * 12).map(i => ("x" * 1000) + i), parts).toDF("word")
    val cap = 16L * 1024
    val overhead = emptyResultBytes(parts)
    var out: BoundedCollect.Outcome = null
    val t = traced { out = BoundedCollect(frame, 1L << 20, cap) }
    out match {
      case o: Overflow =>
        assert(o.cap == ByteCap, o.toString)
        assert(o.seenRows == parts * 12L, o.toString)
        assert(o.peakKeptBytes <= cap, o.toString)
      case other => fail(s"expected the byte cap, got $other")
    }
    assert(t.jobs == 1)
    val rowBytes = t.resultBytes - overhead
    info(s"$rowBytes bytes of rows sent for a $cap-byte cap")
    assert(rowBytes < 2 * cap,
      s"the tasks sent $rowBytes bytes of rows (${t.resultBytes} - $overhead) for a $cap-byte cap")
  }

  test("bounded collect: a frame that fits but is unevenly spread ships in a second job") {
    // partition 0 holds 90 of the 100 rows, over its share (25 rows);
    // the three others fit theirs. The frame fits the caps, so the
    // deferred partition ships in one more job over just it
    val sc = spark.sparkContext
    val df = sc.parallelize(1L to 90L, 1).union(sc.parallelize(91L to 100L, 3)).toDF("v")
    var out: BoundedCollect.Outcome = null
    val t = traced { out = BoundedCollect(df, 100, 1600) }
    assert(t.jobs == 2)
    out match {
      case c: Collected =>
        assert(c.bytes == 1600L)
        assert(c.toRows.map(_.getLong(0)).toSeq == (1L to 100L))
      case other => fail(s"100 rows fit (100 rows, 1600 B), got $other")
    }
    // one row more and the first job alone decides the overflow
    val over = sc.parallelize(1L to 91L, 1).union(sc.parallelize(92L to 101L, 3)).toDF("v")
    var out2: BoundedCollect.Outcome = null
    assert(traced { out2 = BoundedCollect(over, 100, 1600) }.jobs == 1)
    assert(out2.isInstanceOf[Overflow], out2.toString)
  }

  test("driver-side decisions submit a fixed number of jobs") {
    val rnd = new scala.util.Random(5)
    def vecs(ids: Seq[Long]) = ids.map(i => (i, Array.fill(8)(rnd.nextGaussian()))).toDF("id", "vec")
    val probes = vecs(1L to 40L)
    val corpus = vecs(101L to 103L)
    def decide(gate: Int, cap: Int) = Similarity.decideRegime(
      probes, "id", "vec", Some((corpus, "id", "vec")), gate, cap, 512L << 20)
    // embedded and chunked: ONE collect of the probes
    assert(traced(decide(64, 1000)).jobs == 1)
    assert(traced(decide(7, 1000)).jobs == 1)
    // role swap: the probe collect overflows, one more for the corpus
    var swap: Similarity.RegimeDecision = null
    assert(traced { swap = decide(2, 5) }.jobs == 2)
    assert(swap.regime.isInstanceOf[Similarity.AnnRegime.Corpus])
    // quota gate: the quota aggregate's map stage + one result job
    val docs = (1L to 600L).map(i => (i, s"dom${i % 30}", s"w${i % 7} w${i % 11}"))
      .toDF("id", "dom", "body")
    try {
      assert(traced(Sampling.stratifiedExactKRows(docs, "dom", "id", 2)).jobs == 2)
      // TF-IDF: the corpus count, then the dfreq gate (map stage + result)
      val counted = traced(docs.count()).jobs
      assert(traced(TextAnalysis.topTermsByTfidf(docs, "id", "body", 2)).jobs == counted + 2)
    } finally spark.catalog.clearCache()
  }
}
