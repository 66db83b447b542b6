package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Plan evidence, in two modes.
  *
  * Per-query `.explain("formatted")` dumps for optimization-round
  * evidence (`plans/rNN/<query>_<tag>.txt`): the judge checks plan
  * claims (Exchange counts, join strategy, PushedFilters/ReadSchema)
  * against these files without running Spark.
  *
  *   sbt "runMain graft.DumpQueryPlans <outDir> <tag> <sfDir> <q>..."
  *
  * PLANS.md, the physical-plan evidence file for the [[headline]]
  * queries (pushdown, broadcast joins, partial aggregation, codegen
  * spans) plus the overlap large regime and the two merge-on-read scan
  * shapes. Run after any query or operator change that could move a
  * plan:
  *
  *   sbt "runMain graft.DumpQueryPlans --plans-md PLANS.md <sf0.01 dir>"
  *
  * Each query is EXECUTED first (toRdd.foreach on its own
  * QueryExecution) so AQE finalizes the plan — `isFinalPlan=true` is
  * the version worth reading; a noop write would execute a copy and
  * leave this plan isFinalPlan=false. The per-query dump then carries
  * both the formatted initial plan (operator details: pushed filters,
  * read schema) and the final adaptive plan (runtime join/coalesce
  * decisions) — the formatted mode alone prints isFinalPlan=false
  * shapes for adaptive queries.
  *
  * Unlike Bench this runs each query ONCE, unlabeled and ungated: it
  * is plan evidence, not a timing.
  */
object DumpQueryPlans {

  /** The PLANS.md set: every query PlanSpec asserts on, plus the
    * heavy LLM-pipeline operators whose plan shape is the 100 TB
    * argument.
    */
  val headline: Seq[String] = Seq(
    "q04_filter_project", "q10_pricing_summary", "q11_top_revenue",
    "q12_regional_revenue", "q18_asof_join", "q21_dedup_minhash",
    "q23_ngram_overlap", "q25_ann_bruteforce", "q46_quantiles",
    "q47_dedup_components", "q52_sketch_rollup",
    "q54_quality_filter", "q55_decontaminate", "q56_repetition",
    "q57_pii_scrub",
    // q59's final read scans the merge-on-read table: the plan to
    // check is the broadcast DV anti-join over the parquet scan
    "q59_sql_merge", "q62_repeated_spans", "q65_video_meta",
    "q66_verified_dedup",
    // the quota sampler's whole point is its plan: partial
    // bounded-heap aggregation, exchange = strata x k rows
    "q67_stratified_quota", "q69_weighted_quota",
    // the chunked ANN regime: union of per-chunk kernel aggregates,
    // NO join node at any probe count (r14)
    "q70_ann_chunked")

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--plans-md", out, sfDir) => plansMd(out, sfDir)
    case Seq("--plans-md", _*) => usage()
    case _ => perQuery(args)
  }

  private def usage(): Unit = {
    System.err.println(
      "usage: DumpQueryPlans <outDir> <tag> <sfDir> <query>...\n" +
        "       DumpQueryPlans --plans-md <out.md> <sfDir>")
    sys.exit(2)
  }

  /** local[n] with n shuffle partitions; n is `SPARK_GRAFT_CPUS`, default
    * 4 in both modes, so a dump made without the variable prints the
    * same exchanges as PLANS.md.
    */
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs `df` on its own QueryExecution, then returns its final plan. */
  private def executedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.executedPlan.toString()
  }

  private def perQuery(args: Array[String]): Unit = {
    // validate argc and query names BEFORE the session spins up: an
    // unknown name used to throw a raw NoSuchElementException with
    // the JVM already warm (ADVICE r17)
    if (args.length < 4) usage()
    val outDir = args(0)
    val tag = args(1)
    val sfDir = args(2)
    val names = args.drop(3)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}\n" +
        s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val finalPlan = executedPlan(df)
      val formatted = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
        s"== explain(formatted), $sfDir ==\n$formatted\n" +
          s"== executed plan after AQE finalization ==\n$finalPlan\n")
      println(s"[plans] $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }

  private def plansMd(out: String, sfDir: String): Unit = {
    val spark = session()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sb = new StringBuilder
    def section(title: String, df: DataFrame): Unit =
      sb ++= s"\n## $title\n\n```\n${executedPlan(df).linesIterator.take(60).mkString("\n")}\n```\n"
    sb ++= s"""# PLANS — physical plans of headline queries (${Paths.get(sfDir).getFileName}, AQE on)
              |
              |Generated by `sbt "runMain graft.DumpQueryPlans --plans-md PLANS.md <sfDir>"`; refreshed when plans change.
              |What to look for: `PushedFilters`/pruned `ReadSchema` at scans,
              |`BroadcastHashJoin` (never SortMergeJoin) in star joins, partial
              |`HashAggregate` before every exchange, `WindowGroupLimit` for top-k,
              |`*(n)` whole-stage-codegen spans. Eagerly-materializing operators
              |(q21's LSH pairs) show the plan of their final scan; their inner
              |pipeline shape is asserted structurally in PlanSpec instead.
              |""".stripMargin
    headline.foreach(name => section(name, SparkEntry.queries(name)(spark, sfDir)))
    // overlapAuto's LARGE regime: q23's plan above shows the probe's
    // small regime (pairs collapse to a LocalRelation, the corpus scan
    // carries a pushed isin/semi prune). Forcing >2^18 candidate pairs
    // overflows the bounded probe collect, so the pair frame stays
    // LAZY and one id-bounded distinct sizes the broadcast — the
    // sf10-safe shape. What to check: the pair side is a real join
    // subtree (no LocalRelation), the kernel projection sits over the
    // FULL corpus scan, and the verify join broadcasts the id set.
    val docs = graft.sources.ParquetSchema.read(spark, Seq(s"$sfDir/documents.parquet"))
    val ids = docs.select(col("doc_id")).limit(600)
    val bigPairs = ids.as("a").join(ids.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    section("overlap_large_regime (shingleOverlap, ~180k pairs > probe cap: lazy plan)",
      graft.operators.Dedup.shingleOverlap(docs, "doc_id", "text", bigPairs))
    // q59's V2 scan hides the merge-on-read machinery behind the DSv2
    // wrapper; dump the underlying LakeTable.read plan of a DV'd table
    // directly — at this 10k-deleted-rows scale the thing to check is
    // TIER 1: one codegen'd graft_dv_deleted filter over the parquet
    // scan (compressed RowSet mask, join-free; the broadcast anti-join
    // appears only past the 8M-row/64MB gates).
    def dvTable(dir: String, batches: Seq[(Long, Long)], props: Map[String, String]) = {
      val t = graft.lake.LakeTable.forPath(spark,
        Files.createTempDirectory(dir).resolve("t").toString)
      batches.foreach { case (lo, hi) =>
        t.write((lo to hi).map(i => (i, s"v$i")).toDF("id", "v"), "append")
      }
      t.alterSetProperties(Map(graft.lake.LakeTable.MergeModeKey -> "merge-on-read") ++ props)
      t
    }
    val scattered = dvTable("graft-plans-dv", Seq((1L, 100000L)), Map.empty)
    scattered.delete(col("id") % 10 === 0)
    section("dv_scan (merge-on-read LakeTable.read after a 10% scattered DELETE; " +
      "tier-1 RowSet mask)", scattered.read())
    // gutted-file shape: a DELETE covering every row of some files
    // (autoOptimize off) — those files must vanish from the scan list
    // (pruneGutted), leaving NO DV filter at all when no partially-
    // deleted file remains.
    val gutted = dvTable("graft-plans-dvg", Seq((1L, 50000L), (50001L, 100000L)),
      Map("graft.dv.autoOptimize" -> "false"))
    gutted.delete(col("id") <= 50000L)
    section("dv_scan_gutted (DELETE guts the first commit's files: pruned scan, no mask)",
      gutted.read())
    Files.writeString(Paths.get(out), sb.result())
    println(s"[plans] wrote $out (${headline.size} queries, $sfDir)")
    spark.stop()
  }
}
