package graft

import graft.functions.FreqFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FreqSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Zipf-ish stream: item i appears ~N/i times — a few heavy hitters,
    * a long tail. Deterministic (no RNG).
    */
  private def zipf(n: Int, items: Int): Seq[String] =
    (1 to items).flatMap(i => Seq.fill(n / i)(s"item$i"))

  test("exact regime: estimates are true counts, threshold set is exact") {
    val data = zipf(2000, 50) // 50 distinct << 1024 counters: no purge
    val df = data.toDF("w")
    val truth = data.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val got = df.agg(FreqFunctions.freqSketch($"w").as("sk"))
      .select(explode(FreqFunctions.freqItems($"sk", 40L)).as("f"))
      .select($"f.item", $"f.estimate")
      .as[(String, Long)].collect().toMap
    val expected = truth.filter(_._2 >= 40)
    assert(got == expected)
  }

  test("lossy regime: NO_FALSE_NEGATIVES above the error bound; estimates within eps*N") {
    // 500 distinct items vs a 64-counter map: heavy purging. The
    // no-false-negatives contract only binds for thresholds ABOVE the
    // sketch's maximum error (~3.5/maxMapSize * N) — an item purged to
    // nothing can have any true count up to that error, so a threshold
    // below it can legitimately miss items (the first version of this
    // test asserted exactly that impossible guarantee and failed).
    val data = zipf(50000, 500)
    val truth = data.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val epsN = (3.5 / 64 * data.size).toLong
    val thresh = epsN + 1000
    val df = data.toDF("w")
    val sk = df.agg(FreqFunctions.freqSketch($"w", 64).as("sk"))
    val got = sk.select(explode(FreqFunctions.freqItems($"sk", thresh)).as("f"))
      .select($"f.item", $"f.estimate").as[(String, Long)].collect().toMap
    val mustHave = truth.filter(_._2 >= thresh).keySet
    assert(mustHave.nonEmpty) // the probe must bind on something
    assert(mustHave.subsetOf(got.keySet),
      s"missing heavy hitters: ${mustHave -- got.keySet}")
    // every returned estimate within eps*N of truth (2x slack for the
    // multi-partition partial-merge path)
    got.foreach { case (w, est) =>
      val t = truth.getOrElse(w, 0L)
      assert(math.abs(est - t) <= 2 * epsN, s"$w: est=$est true=$t epsN=$epsN")
    }
  }

  test("merge law: union of shard sketches answers like the full build (exact regime)") {
    val data = zipf(3000, 40)
    val (s1, s2) = data.splitAt(data.size / 3)
    val shard = Seq(s1.map(("a", _)), s2.map(("b", _))).flatten.toDF("shard", "w")
    // per-shard sketches persisted as binary, then rolled up
    val perShard = shard.groupBy("shard")
      .agg(FreqFunctions.freqSketch($"w").as("sk"))
    val rolled = perShard
      .agg(FreqFunctions.freqUnion($"sk").as("sk"))
      .select(explode(FreqFunctions.freqItems($"sk", 50L)).as("f"))
      .select($"f.item", $"f.estimate").as[(String, Long)].collect().toMap
    val full = data.toDF("w")
      .agg(FreqFunctions.freqSketch($"w").as("sk"))
      .select(explode(FreqFunctions.freqItems($"sk", 50L)).as("f"))
      .select($"f.item", $"f.estimate").as[(String, Long)].collect().toMap
    assert(rolled == full)
    assert(full.nonEmpty)
  }

  test("SQL path: registered names work end-to-end; bad literals fail at analysis") {
    zipf(500, 10).toDF("w").createOrReplaceTempView("freq_in")
    val rows = spark.sql(
      """SELECT f.item, f.estimate
        |FROM (SELECT graft_freq_sketch(w, 256) sk FROM freq_in)
        |LATERAL VIEW explode(graft_freq_items(sk, 100)) AS f""".stripMargin)
      .as[(String, Long)].collect().toMap
    assert(rows("item1") == 500L && rows("item5") == 100L && !rows.contains("item6"))
    // nulls are skipped, not counted
    val withNulls = spark.sql(
      "SELECT graft_freq_sketch(CASE WHEN w = 'item1' THEN NULL ELSE w END) sk FROM freq_in")
    val est = withNulls
      .select(explode(FreqFunctions.freqItems($"sk", 1L)).as("f"))
      .select($"f.item").as[String].collect()
    assert(!est.contains("item1"))
    intercept[Exception] {
      spark.sql("SELECT graft_freq_sketch(w, 100) FROM freq_in").collect()
    } // 100 not a power of 2
    intercept[Exception] {
      spark.sql("SELECT graft_freq_items(NULL, w) FROM freq_in").collect()
    } // non-literal threshold
  }

  test("wrong-typed inputs fail at ANALYSIS, not silently miscount") {
    Seq((Array[Byte](1, 2), 1.5, "a")).toDF("b", "d", "w")
      .createOrReplaceTempView("freq_types")
    // binary child would count JVM identity strings ("[B@...")
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_freq_sketch(b) FROM freq_types").collect()
    }
    assert(e1.getMessage.contains("unsupported input type"))
    // double child: shortest-repr rendering traps — rejected too
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_freq_sketch(d) FROM freq_types").collect()
    }
    assert(e2.getMessage.contains("unsupported input type"))
    // merge/items over a non-binary column: analysis error, not a
    // runtime ClassCastException mid-job
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_freq_union(w) FROM freq_types").collect()
    }
    assert(e3.getMessage.contains("binary"))
    val e4 = intercept[Exception] {
      spark.sql("SELECT graft_freq_items(w, 1) FROM freq_types").collect()
    }
    assert(e4.getMessage.contains("binary"))
    // same contract on the theta/kll rollup halves
    val e5 = intercept[Exception] {
      spark.sql("SELECT graft_theta_union(w) FROM freq_types").collect()
    }
    assert(e5.getMessage.contains("binary"))
    val e6 = intercept[Exception] {
      spark.sql("SELECT graft_kll_union(w) FROM freq_types").collect()
    }
    assert(e6.getMessage.contains("binary"))
    // integral input still works and counts the decimal rendering
    val ok = spark.sql(
      "SELECT graft_freq_items(graft_freq_sketch(CAST(7 AS BIGINT)), 1) items FROM freq_types")
      .select(explode($"items").as("f")).select($"f.item").as[String].collect()
    assert(ok.toSeq == Seq("7"))
  }
}
