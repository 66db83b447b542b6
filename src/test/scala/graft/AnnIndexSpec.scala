package graft

import graft.functions.VectorFunctions
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** ANN index AS a lake table: assign every vector to its nearest
  * coarse centroid (IVF list), persist, and CLUSTER the files on
  * list_id with sorted compaction — per-file min/max stats then prune
  * an nProbe query down to the few files owning the probed lists. The
  * 100 TB posture: the index is just data layout + statistics; no
  * serving process, no in-memory index structure, scan cost ∝ probed
  * lists, not corpus size.
  */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def filesScanned(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.sum
  }

  test("IVF lists as a sorted-compacted lake table: probes skip non-probed files") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // coarse quantizer: 8 centroid vectors as literals (metadata-scale)
    val centroids = emb.orderBy("vec_id").limit(8)
      .select($"embedding".cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    def listOf(vec: org.apache.spark.sql.Column) = {
      val scored = array(centroids.zipWithIndex.map { case (c, p) =>
        struct((-VectorFunctions.dot(vec, typedlit(c))).as("negs"),
          lit(p).as("id"))
      }.toSeq: _*)
      element_at(transform(array_sort(scored), s => s.getField("id")), 1)
    }
    val indexed = emb.select($"vec_id", $"embedding",
      listOf($"embedding").as("list_id"))

    val dir = Files.createTempDirectory("graft-ann").toString
    val t = LakeTable.forPath(spark, dir)
    // arrival order: several unclustered appends (streaming-ingest shape)
    (0 until 5).foreach { i =>
      t.write(indexed.where(pmod($"vec_id", lit(5)) === i).coalesce(1), "append")
    }
    assert(filesScanned(t.read().where($"list_id" === 3)) == 5) // every file overlaps

    t.compactSorted(Seq("list_id"), targetFiles = 8)
    val afterFiles = filesScanned(t.read().where($"list_id" === 3))
    assert(afterFiles <= 2, s"expected ≤2 files after clustering, got $afterFiles")

    // the pruned scan returns exactly the same candidate set
    val expect = indexed.where($"list_id" === 3).select("vec_id").as[Long].collect().toSet
    val got = t.read().where($"list_id" === 3).select("vec_id").as[Long].collect().toSet
    assert(got == expect && got.nonEmpty)

    // end-to-end: nearest neighbor from the probed lists matches the
    // brute-force answer computed over the full corpus for a probe
    // whose true neighbor shares its list (the IVF contract)
    val probe = indexed.where($"vec_id" === 123L).select(
      $"embedding".as("probe_vec"), $"list_id".as("probe_list")).collect()(0)
    val cands = t.read().where($"list_id" === probe.getInt(1) && $"vec_id" =!= 123L)
      .withColumn("sim", VectorFunctions.cosine($"embedding",
        typedlit(probe.getSeq[Float](0).map(_.toDouble)).cast("array<float>")))
    val best = cands.orderBy($"sim".desc, $"vec_id").select("vec_id").as[Long].head()
    val brute = emb.where($"vec_id" =!= 123L)
      .withColumn("sim", VectorFunctions.cosine($"embedding",
        typedlit(probe.getSeq[Float](0).map(_.toDouble)).cast("array<float>")))
      .withColumn("list_id", listOf($"embedding"))
      .orderBy($"sim".desc, $"vec_id")
      .select("vec_id", "list_id").as[(Long, Int)].head()
    if (brute._2 == probe.getInt(1)) assert(best == brute._1)
  }
}
