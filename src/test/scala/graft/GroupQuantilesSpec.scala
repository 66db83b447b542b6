package graft

import graft.operators.GroupQuantiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GroupQuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    val d1 = a.exceptAll(b)
    val d2 = b.exceptAll(a)
    assert(d1.isEmpty && d2.isEmpty,
      s"$hint\nonly in exact:\n${d1.collect().mkString("\n")}\n" +
        s"only in window:\n${d2.collect().mkString("\n")}")
  }

  private val probs = Seq(0.01, 0.5, 0.95, 1.0)

  test("selection matches the window formulation: duplicates, nulls, tiny and skewed groups") {
    val rnd = new scala.util.Random(42)
    // heavy duplication (values quantized), group sizes 1 / 7 / ~50k,
    // nulls sprinkled into one group, plus a NULL group key
    val rows =
      Seq(("solo", Option(3.25))) ++
        (1 to 7).map(_ => ("tiny", Option(rnd.nextInt(3).toDouble))) ++
        (1 to 50000).map(_ => ("big", Option((rnd.nextInt(800) / 7.0)))) ++
        (1 to 9000).map(i => ("nully",
          if (i % 3 == 0) None else Option(rnd.nextGaussian() * 100))) ++
        (1 to 500).map(_ => (null.asInstanceOf[String], Option(rnd.nextDouble())))
    val df = rows.toDF("grp", "v").repartition(7)
    val ex = GroupQuantiles.exact(df, Seq("grp"), "v", probs)
    val win = GroupQuantiles.windowExact(df, Seq("grp"), "v", probs)
    assertSameRows(ex, win, "mixed corpus")
    // nully group: rank 90 of 9000 (p=0.01) lands inside the 3000
    // nulls -> the picked value must be NULL, not a number
    assert(ex.where($"grp" === "nully" && $"rk" === 90L && $"v".isNull).count() == 1)
  }

  test("selection matches the window formulation: NaN values rank last") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 4000).map { i =>
      ("g" + (i % 2), if (i % 11 == 0) Double.NaN else rnd.nextGaussian())
    }
    val df = rows.toDF("grp", "v").repartition(5)
    val ex = GroupQuantiles.exact(df, Seq("grp"), "v", probs)
    val win = GroupQuantiles.windowExact(df, Seq("grp"), "v", probs)
    assertSameRows(ex, win, "NaN corpus")
    // ~9% NaNs per group: p = 1.0 (rank n) AND p = 0.95 (rank past
    // the non-NaN count) both land in the NaN tail -> 2 groups x 2
    // probs = 4 NaN rows, all off the driver shortcut
    assert(ex.where($"rk".isNotNull && isnan($"v")).count() == 4)
  }

  test("colliding ranks emit one row, like the window OR-predicate") {
    // n = 4: ceil(.5n)=2 and ceil(.51n)=3 differ, but ceil(.5n) and
    // ceil(.26..5n)... use probs whose ceils collide: 0.4 and 0.5 on
    // n=2 both give rank 1
    val df = Seq(("g", 10.0), ("g", 20.0)).toDF("grp", "v")
    val ex = GroupQuantiles.exact(df, Seq("grp"), "v", Seq(0.4, 0.5))
    assert(ex.count() == 1)
    assert(ex.select("rk", "v").as[(Long, Double)].head() == ((1L, 10.0)))
    val win = GroupQuantiles.windowExact(df, Seq("grp"), "v", Seq(0.4, 0.5))
    assertSameRows(ex, win, "rank collision")
  }

  test("integer values come back as integers; multi-column groups work") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 20000).map(i =>
      (i % 3, s"s${i % 2}", rnd.nextInt(1000).toLong))
    val df = rows.toDF("a", "b", "v").repartition(6)
    val ex = GroupQuantiles.exact(df, Seq("a", "b"), "v", Seq(0.5, 0.9))
    val win = GroupQuantiles.windowExact(df, Seq("a", "b"), "v", Seq(0.5, 0.9))
    assertSameRows(ex, win, "multi-group long values")
    assert(ex.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(ex.count() == 12) // 6 groups x 2 distinct ranks
  }

  test("decimal values: bracket comparisons in double space still select the exact value") {
    // values sit on a DECIMAL(12,4) grid denser than doubles can hold
    // exactly; the bracket/below comparisons run in the double image,
    // but boundary ties fall INTO the bracket on both ends, so the
    // selected decimal comes back exact and the window agrees
    val rnd = new scala.util.Random(11)
    val rows = (1 to 30000).map { i =>
      ("d" + (i % 3), BigDecimal(rnd.nextInt(100000000)) / 10000)
    }
    val df = rows.toDF("grp", "v")
      .select($"grp", $"v".cast("decimal(12,4)").as("v")).repartition(6)
    val ex = GroupQuantiles.exact(df, Seq("grp"), "v", probs)
    val win = GroupQuantiles.windowExact(df, Seq("grp"), "v", probs)
    assertSameRows(ex, win, "decimal corpus")
    assert(ex.schema("v").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 4))
  }

  test("plan shape: no group-wide window — the only window partitions by bracket id") {
    // the whole point: on a low-cardinality group column the table is
    // never sorted per group. Pass 2's window partitions by __tid
    // (bracket-sized); pass 1 is a plain hash aggregate.
    val df = (1 to 30000).map(i => ("p" + (i % 4), i * 1.0)).toDF("grp", "v")
    val ex = GroupQuantiles.exact(df, Seq("grp"), "v", Seq(0.5, 0.95))
    // correctness against the spec formulation
    assertSameRows(ex, GroupQuantiles.windowExact(df, Seq("grp"), "v", Seq(0.5, 0.95)),
      "plan-shape corpus")
    // the result frame is a local relation (driver-assembled picks):
    // group-bounded by contract, and trivially free of table-wide sorts
    val plan = ex.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("over-cap group cardinality falls back to window-correct results") {
    // 5000 distinct groups against a 100-group cap: the r13 shape
    // require-crashed; now it degrades to the window formulation,
    // which is also the regime where the window wins
    val df = (1 to 5000).map(i => (i % 1000, i * 1.0)).toDF("grp", "v")
      .repartition(6)
    val ex = GroupQuantiles.exact(df, Seq("grp"), "v", Seq(0.5), maxGroups = 100)
    val win = GroupQuantiles.windowExact(df, Seq("grp"), "v", Seq(0.5))
    assertSameRows(ex, win, "over-cap fallback")
    assert(ex.count() == 1000)
  }

  test("pass-1 stats collect is row-bounded; overflow falls back to the window") {
    // the r13 flaw: collect() ran unbounded, the cap checked after.
    // Pass 1 goes through the bounded collect: at most maxGroups stats
    // rows ever reach the driver, and past the cap nothing is kept
    import graft.operators.BoundedCollect.{Collected, Overflow, RowCap}
    val df = (1 to 5000).map(i => (i % 150, i * 1.0)).toDF("grp", "v").repartition(6)
    GroupQuantiles.collectStats(df, Seq("grp"), "v", sketchK = 400, maxGroups = 100) match {
      case o: Overflow =>
        assert(o.cap == RowCap && o.maxRows == 100L, o.toString)
        assert(o.peakKeptBytes <= o.maxBytes, o.toString)
      case other => fail(s"150 groups against a 100-group cap must overflow, got $other")
    }
    GroupQuantiles.collectStats(df, Seq("grp"), "v", sketchK = 400, maxGroups = 150) match {
      case c: Collected => assert(c.rows.length == 150)
      case other => fail(s"150 groups fit a 150-group cap, got $other")
    }
    // the overflow leads to the window formulation: its signature
    // (the per-group row_number window) is the plan, results agree
    val ex = GroupQuantiles.exact(df, Seq("grp"), "v", Seq(0.5), maxGroups = 100)
    assert(ex.queryExecution.optimizedPlan.toString.contains("Window"))
    assertSameRows(ex, GroupQuantiles.windowExact(df, Seq("grp"), "v", Seq(0.5)),
      "over-cap window fallback")
  }

  test("auto dispatch: identical output on both sides of the crossover") {
    val rnd = new scala.util.Random(19)
    // few-groups side (selection regime): 4 groups, 40k rows
    val few = (1 to 40000).map(i => ("g" + (i % 4), rnd.nextGaussian()))
      .toDF("grp", "v").repartition(6)
    val autoFew = GroupQuantiles.auto(few, Seq("grp"), "v", probs)
    assertSameRows(autoFew, GroupQuantiles.windowExact(few, Seq("grp"), "v", probs),
      "auto few-groups")
    // selection's signature: result is a driver-assembled local
    // relation, no Window node anywhere in the plan
    assert(!autoFew.queryExecution.optimizedPlan.toString.contains("Window"))

    // many-small-groups side (window regime): >= 4x parallelism
    // groups, each far under windowMaxGroupRows
    val parallelism = spark.sparkContext.defaultParallelism
    val nGroups = 4 * parallelism + 8
    val many = (1 to 40000).map(i => ("g" + (i % nGroups), rnd.nextGaussian()))
      .toDF("grp", "v").repartition(6)
    val autoMany = GroupQuantiles.auto(many, Seq("grp"), "v", probs)
    assertSameRows(autoMany, GroupQuantiles.exact(many, Seq("grp"), "v", probs),
      "auto many-groups")
    // window's signature: the per-group row_number window IS the plan
    assert(autoMany.queryExecution.optimizedPlan.toString.contains("Window"))

    // task-dwarfing groups pick selection even when groups are many:
    // windowMaxGroupRows forced tiny so the 'many' frame flips back
    val autoBig = GroupQuantiles.auto(many, Seq("grp"), "v", probs,
      windowMaxGroupRows = 10L)
    assertSameRows(autoBig, autoMany, "auto task-dwarfing override")
    assert(!autoBig.queryExecution.optimizedPlan.toString.contains("Window"))
  }

  test("probs list past 64 is rejected (bracket-join fanout bound)") {
    val df = Seq(("g", 1.0)).toDF("grp", "v")
    val err = intercept[IllegalArgumentException] {
      GroupQuantiles.exact(df, Seq("grp"), "v",
        (1 to 65).map(_ / 65.0))
    }
    assert(err.getMessage.contains("64"))
  }

  test("input validation is identical on all three entry points (windowExact included)") {
    // windowExact is public API — a direct caller must hit the same
    // probs range/count/group brackets exact and auto enforce, not
    // slip a probs ∉ (0,1] or a 500-entry list past them
    val df = Seq(("g", 1.0)).toDF("grp", "v")
    val entries: Seq[(String, Seq[Double] => DataFrame)] = Seq(
      "exact" -> (p => GroupQuantiles.exact(df, Seq("grp"), "v", p)),
      "auto" -> (p => GroupQuantiles.auto(df, Seq("grp"), "v", p)),
      "windowExact" -> (p => GroupQuantiles.windowExact(df, Seq("grp"), "v", p)))
    for ((name, run) <- entries) {
      val range = intercept[IllegalArgumentException] { run(Seq(0.0, 0.5)) }
      assert(range.getMessage.contains("(0, 1]"), s"$name: $range")
      val over = intercept[IllegalArgumentException] { run(Seq(1.5)) }
      assert(over.getMessage.contains("(0, 1]"), s"$name: $over")
      val fanout = intercept[IllegalArgumentException] {
        run((1 to 65).map(_ / 65.0))
      }
      assert(fanout.getMessage.contains("64"), s"$name: $fanout")
      val empty = intercept[IllegalArgumentException] { run(Seq.empty) }
      assert(empty.getMessage.contains("probs"), s"$name: $empty")
    }
  }
}
