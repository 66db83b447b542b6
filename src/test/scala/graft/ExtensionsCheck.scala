package graft

import org.apache.spark.sql.{Row, SparkSession}

/** Subprocess target for RunnerSpec's extensions test: a JVM whose
  * ONLY graft wiring is `--conf spark.sql.extensions=graft.GraftExtensions`
  * — the pure-SQL cluster deployment path (`spark-submit --conf …`).
  * The shared test session can't prove this (getOrCreate applies
  * extensions at creation only), so the spec forks this main and
  * asserts on its exit code + marker line.
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-ext-wh").toString
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-check")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.lake.v2.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      spark.range(0, 1000).createOrReplaceTempView("ext_check")
      val scalar = spark.sql(
        """SELECT graft_kll_quantile(graft_kll_sketch(CAST(id AS DOUBLE)), 0.5) AS med,
          |       first(graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))) AS c,
          |       first(graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))) AS d
          |FROM ext_check""".stripMargin).head()
      require(scalar.getDouble(0) > 400.0 && scalar.getDouble(0) < 600.0,
        s"kll median off: ${scalar.getDouble(0)}")
      require(scalar.getDouble(1) == 1.0, "cosine off")
      require(scalar.getDouble(2) == 11.0, "dot off")
      // build per-group sketches, then union the stored binaries —
      // the day→month rollup shape, pure SQL end to end
      val dv = spark.sql(
        """SELECT graft_theta_union(sk) AS dv FROM (
          |  SELECT graft_theta_sketch(id) AS sk FROM ext_check GROUP BY id % 4)
          |""".stripMargin).head().getLong(0)
      require(math.abs(dv - 1000L) <= 50L, s"theta distinct off: $dv")
      // frequent-items family: build per-group, union binaries, read
      // the threshold set — exact regime so the answer is pinned
      val fr = spark.sql(
        """SELECT f.item, f.estimate FROM (
          |  SELECT graft_freq_union(sk) AS sk FROM (
          |    SELECT graft_freq_sketch(CAST(id % 3 AS STRING), 64) AS sk
          |    FROM ext_check GROUP BY id % 4))
          |LATERAL VIEW explode(graft_freq_items(sk, 300)) AS f
          |""".stripMargin).collect()
      require(fr.length == 3 && fr.map(_.getLong(1)).sum == 1000L,
        s"freq items off: ${fr.mkString(",")}")
      // text kernels resolve and compute from pure SQL
      val tk = spark.sql(
        """SELECT size(graft_minhash_signature('a b c d e', 8)) AS k,
          |       size(graft_shingle_hashes('a b c d e')) AS sh,
          |       size(graft_char_ngrams('abcd', 2)) AS cg,
          |       graft_simhash('a b c') AS sim,
          |       graft_fingerprint('a b c') AS fp,
          |       graft_repetition_stats('x x y').top_count AS top,
          |       size(graft_word_tf('x x y')) AS tfn,
          |       size(graft_word_ngram_hashes('a b c d e', 3)) AS g,
          |       graft_text_stats('Ab, cd7 cd7').n_tokens AS tok,
          |       graft_text_stats('Ab, cd7 cd7').n_uniq AS unq
          |""".stripMargin).head()
      require(tk.getInt(0) == 8 && tk.getInt(1) == 3 && tk.getInt(2) == 3,
        "kernel array sizes off")
      require(tk.getLong(5) == 2L && tk.getInt(6) == 2 && tk.getInt(7) == 3,
        "kernel counts off")
      // 'Ab, cd7 cd7': tokens A|b|,|cd|7|cd|7 = 7; uniq words Ab,/cd7 = 2
      require(tk.getLong(8) == 7L && tk.getLong(9) == 2L, "text stats off")
      // the names whose Column helpers Similarity, Ranking, Sampling
      // and Dedup build: the same table injects them for pure SQL
      val ck = spark.sql(
        """SELECT graft_top_k(CAST(id AS DOUBLE), id, 3) AS tk,
          |       graft_top_k_key(CAST(id AS DOUBLE), CAST(id AS STRING), 2) AS tkk,
          |       first(graft_norm2(array(3.0d, 4.0d))) AS n,
          |       first(graft_sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L))) AS si
          |FROM ext_check""".stripMargin).head()
      require(ck.getSeq[Row](0).map(_.getLong(0)) == Seq(999L, 998L, 997L), "top_k off")
      require(ck.getSeq[Row](1).map(_.getString(0)) == Seq("999", "998"), "top_k_key off")
      require(ck.getDouble(2) == 5.0 && ck.getInt(3) == 2, "norm2 / intersect off")
      // the injected parser + catalog pair: maintenance SQL end to end
      spark.sql("CREATE TABLE graft.default.ext_m (id BIGINT) USING graft")
      spark.sql("INSERT INTO graft.default.ext_m VALUES (1)")
      spark.sql("INSERT INTO graft.default.ext_m VALUES (2)")
      require(spark.sql("OPTIMIZE graft.default.ext_m").head().getLong(0) >= 2L,
        "OPTIMIZE did not compact")
      require(spark.sql("DESCRIBE HISTORY graft.default.ext_m").count() >= 4L,
        "HISTORY rows missing")
      require(spark.sql("VACUUM graft.default.ext_m").head().getLong(0) >= 2L,
        "VACUUM removed nothing")
      require(spark.sql("SELECT sum(id) FROM graft.default.ext_m")
        .head().getLong(0) == 3L, "content changed by maintenance")
      println("GRAFT_EXT_OK")
    } finally spark.stop()
  }
}
