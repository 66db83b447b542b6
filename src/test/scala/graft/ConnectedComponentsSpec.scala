package graft

import graft.operators.{ConnectedComponents, Dedup}
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference union-find, the ground truth the distributed algorithm
    * must reproduce: component = min id reachable.
    */
  private def expected(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(i => i -> find(i)).toMap
  }

  private def check(n: Long, edges: Seq[(Long, Long)]): Unit = {
    val verts = (0L until n).toDF("id")
    val e = edges.toDF("id_a", "id_b")
    // the adaptive small-graph path and the distributed contraction
    // path must produce identical labels
    val small = ConnectedComponents.labels(verts, "id", e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distributed = ConnectedComponents
      .labels(verts, "id", e, smallGraphMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(small == expected(n, edges))
    assert(distributed == expected(n, edges))
  }

  test("chain graph (the diameter case naive propagation loses)") {
    check(64, (0L until 63L).map(i => (i, i + 1)))
  }

  test("two components + isolated vertices + duplicate/reversed edges") {
    check(12, Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 0L), (5L, 7L), (7L, 5L), (7L, 9L)))
  }

  test("star and cycle") {
    val star = (1L to 8L).map(i => (0L, i))
    val cycle = Seq((9L, 10L), (10L, 11L), (11L, 9L))
    check(13, star ++ cycle)
  }

  test("empty edge set: every vertex is its own component") {
    check(6, Seq.empty)
  }

  test("intermediate rounds release their persisted edge sets") {
    val sc = TestSpark.spark.sparkContext
    System.gc() // let the ContextCleaner drain earlier tests' refs
    val before = sc.getPersistentRDDs.keySet
    // 64-chain needs several contraction rounds (force the
    // distributed path; the small-graph fast path runs no rounds)
    val verts = (0L until 64L).toDF("id")
    val e = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    ConnectedComponents.labels(verts, "id", e, smallGraphMaxEdges = 0L).collect()
    val leaked = sc.getPersistentRDDs.keySet -- before
    // only the FINAL round's edge set may still be pinned (the
    // returned frame references it); superseded rounds must be freed
    assert(leaked.size <= 1, s"leaked ${leaked.size} persisted round RDDs")
  }

  test("small-graph path: one bounded collect, nothing persisted") {
    val sc = spark.sparkContext
    System.gc()
    val before = sc.getPersistentRDDs.keySet
    val edges = Seq((0L, 1L), (1L, 2L), (4L, 5L), (5L, 4L))
    val verts = (0L until 8L).toDF("id")
    var got: Map[Long, Long] = null
    val t = JobTrace.traced(spark) {
      got = ConnectedComponents.labels(verts, "id", edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == expected(8, edges))
    assert(sc.getPersistentRDDs.keySet == before, "the small-graph path persisted an RDD")
    // the gate (the edge distinct's map stage and its result job), then
    // the vertex distinct's map stage, the stars' broadcast and the
    // labels' result job
    info(s"${t.jobs} jobs")
    assert(t.jobs == 5, t.callSites.mkString("\n---\n"))
    assert(t.callSites.count(_.contains("BoundedCollect")) == 1, t.callSites.mkString("\n---\n"))
  }

  test("over the row cap: labels equal union-find; the edge frame is computed once") {
    val edges = (0L until 30L).map(i => (i, i + 1)) ++ Seq((40L, 41L), (41L, 42L), (42L, 40L))
    val computed = spark.sparkContext.longAccumulator("edge rows computed")
    val e = spark.sparkContext.parallelize(edges, 3)
      .map { x => computed.add(1); x }
      .toDF("id_a", "id_b")
    val verts = (0L until 45L).toDF("id")
    // over the row cap but above 0: the gate overflows and the rounds
    // start from a frame over the RDD it ran, so the distinct's map
    // stage (the only reader of the source) is skipped, not rerun
    val got = ConnectedComponents.labels(verts, "id", e, smallGraphMaxEdges = 5L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected(45, edges))
    assert(computed.value == edges.size.toLong,
      s"${computed.value} edge rows computed for ${edges.size} edges")
  }

  test("keepMinIds drops null ids and the non-roots; rows sharing an id all survive") {
    val rows = Seq[(java.lang.Long, String)](
      (1L, "a"), (1L, "b"), (null, "c"), (2L, "d"), (3L, "e"), (3L, "f"), (6L, "g"), (null, "h"))
      .toDF("doc_id", "body")
    val edges = Seq((1L, 2L), (3L, 4L), (4L, 2L), (6L, 7L)).toDF("id_a", "id_b")
    val kept = ConnectedComponents.keepMinIds(rows, "doc_id", edges)
    assert(kept.columns.toSeq == rows.columns.toSeq)
    assert(kept.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "a"), (1L, "b"), (6L, "g")))
  }

  test("dedupCorpus / dedupCorpusVerified run a fixed number of jobs") {
    // 40 docs in 8 near-dup clusters of 5 (one word differs), as parquet
    // so the plans scan files like a real corpus
    val dir = java.nio.file.Files.createTempDirectory("graft-cc").resolve("docs").toString
    (0L until 40L).map { i =>
      val base = (0 until 30).map(w => s"c${i / 5}w$w").mkString(" ")
      (i, s"$base tail${i % 5}")
    }.toDF("doc_id", "text").coalesce(1).write.parquet(dir)
    val docs = spark.read.parquet(dir)
    var kept = Map.empty[String, Set[Long]]
    def run(name: String)(df: => org.apache.spark.sql.DataFrame) = {
      val t = JobTrace.traced(spark)(kept += name -> df.collect().map(_.getLong(0)).toSet)
      info(s"$name: ${t.jobs} jobs")
      // the signature and edge map stages, the gate's result job, then
      // the non-roots' broadcast and the kept rows' result job
      assert(t.jobs == 5, t.callSites.mkString("\n---\n"))
      assert(t.callSites.count(_.contains("BoundedCollect")) == 1, t.callSites.mkString("\n---\n"))
    }
    run("dedupCorpus")(Dedup.dedupCorpus(docs, "doc_id", "text"))
    run("dedupCorpusVerified")(Dedup.dedupCorpusVerified(docs, "doc_id", "text"))
    // one kept row per cluster: its minimum id
    val mins = (0L until 40L by 5L).toSet
    assert(kept("dedupCorpus") == mins && kept("dedupCorpusVerified") == mins, kept.toString)
  }

  test("cluster summary counts members per component") {
    val verts = (0L until 10L).toDF("id")
    val e = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.clusterSummary(verts, "id", e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 3L -> 1L, 4L -> 2L, 6L -> 1L, 7L -> 1L, 8L -> 1L, 9L -> 1L))
  }
}
