package graft.queries

import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver-facing query inventory: one entry per operator from
  * SURVEY.md §2 plus the mandated extension operators (§7.5), each
  * with an ANSI-SQL oracle that DuckDB replays on the same parquet
  * tables.
  *
  * Oracle-determinism rules used throughout (cross-engine hash compare):
  * - money math in DECIMAL (order-independent exact sums), final
  *   `CAST(round(x, s) AS DOUBLE)`;
  * - every count/size/rank cast to BIGINT on the Spark side (DuckDB
  *   len/count are BIGINT);
  * - hashes are md5-based (identical in both engines) — never
  *   engine-specific hash functions;
  * - no raw `events.ts` in outputs (ns vs µs precision) — epoch
  *   milliseconds instead;
  * - LIMIT only under a total order.
  */
object Queries {

  final case class QueryDef(
      impl: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ParquetSchema.read(spark, Seq(s"$dir/$name.parquet"))

  /** decimal money helpers shared by the TPC-H-ish queries. These are
    * CAST(x AS DECIMAL(p,2)) in kernel form (MoneyCastExpr): values
    * provably on the 2-decimal grid skip the Double.toString →
    * BigDecimal tower the built-in cast pays per row — measured ~1.0 s
    * of q10's 1.3 s at sf1 once the int128 sum removed the accumulator
    * cost (BENCHNOTES_r7). MoneyCastSpec pins bit-agreement with the
    * built-in cast, so the DuckDB oracles are unaffected.
    */
  private def dec2(c: org.apache.spark.sql.Column) =
    graft.functions.DecimalFunctions.moneyCast(c, 18, 2)
  // exact int128 sum / sum-of-products (graft.functions.DecimalFunctions):
  // value-identical to the built-in sum (DecimalSumSpec pins agreement,
  // overflow boundary included) but with a two-long primitive
  // accumulator instead of Spark's boxed DECIMAL(p+10) path — the
  // measured ~3x arithmetic tax on every star aggregate (BENCHNOTES_r6)
  private def decSum(c: org.apache.spark.sql.Column) =
    graft.functions.DecimalFunctions.decimalSum(c)
  private def decSumProduct(cs: org.apache.spark.sql.Column*) =
    graft.functions.DecimalFunctions.decimalSumProduct(cs: _*)
  private def dec82(c: org.apache.spark.sql.Column) =
    graft.functions.DecimalFunctions.moneyCast(c, 8, 2)
  private val one = lit(1).cast("decimal(8,2)")

  /** DuckDB replay of Dedup.minhashSignatures' double-hashing family:
    * ONE md5 per shingle yields (ha, hb) — hex chars 1-15 and 17-30 —
    * and hash j is (ha + j·hb) masked to 60 bits. The `ab` CTE these
    * snippets expect is built from an unnested shingle column `s`.
    */
  private val duckAb =
    "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS ha, " +
      "CAST(('0x' || substr(md5(s), 17, 14)) AS BIGINT) AS hb"
  private def duckMinhash(k: Int): String = (0 until k).map(j =>
    s"min((ha + $j * hb) & ${graft.operators.Dedup.MinhashMask}) AS mh$j").mkString(",\n")

  val all: Seq[(String, QueryDef)] = Seq(

    // ================= reference parity (SURVEY.md §2) =================

    // S2: parquet scan, identity projection (P1)
    "q01_identity_scan" -> QueryDef(
      (s, d) => tbl(s, d, "region"),
      Some("SELECT r_regionkey, r_name FROM region")),

    // P2 via entry-point-B shape: typed → all-string stage → cast back
    "q02_cast_roundtrip" -> QueryDef(
      (s, d) => StageCast.stageRoundTrip(tbl(s, d, "orders")),
      Some("""SELECT CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS o_orderkey,
             |CAST(CAST(o_custkey AS VARCHAR) AS BIGINT) AS o_custkey,
             |CAST(CAST(o_orderstatus AS VARCHAR) AS VARCHAR) AS o_orderstatus,
             |CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS o_totalprice,
             |CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP) AS o_orderdate,
             |CAST(CAST(o_orderpriority AS VARCHAR) AS VARCHAR) AS o_orderpriority
             |FROM orders""".stripMargin)),

    // P2: base-type cast projection (Keboola base types)
    // qty_num exercises the NUMERIC base-type decimal cast but surfaces
    // as DOUBLE: a raw decimal128 output column is the one physical type
    // the driver's hasher normalizes differently from DuckDB (r1: rows+
    // schema matched, hash didn't); double<->decimal(18,2) is exact both
    // ways so the round-trip loses nothing.
    "q03_cast_types" -> QueryDef(
      (s, d) => tbl(s, d, "lineitem").select(
        col("l_orderkey").cast("string").as("ok_str"),
        col("l_linenumber").cast("long").as("ln_int"),
        col("l_quantity").cast("decimal(18,2)").cast("double").as("qty_num"),
        col("l_shipdate").cast("date").as("ship_date")),
      Some("""SELECT CAST(l_orderkey AS VARCHAR) AS ok_str,
             |CAST(l_linenumber AS BIGINT) AS ln_int,
             |CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty_num,
             |CAST(l_shipdate AS DATE) AS ship_date FROM lineitem""".stripMargin)),

    // scan-side filter + projection pushdown
    "q04_filter_project" -> QueryDef(
      (s, d) => tbl(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount > 0.05""".stripMargin)),

    // U2/K1: append ≡ UNION ALL
    "q05_append" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
        MergeOps.append(o.where(col("o_orderkey") % 2 === 0),
          o.where(col("o_orderkey") % 2 === 1))
      },
      Some("SELECT * FROM orders")),

    // schema_mode=merge: union-by-name with nulls
    "q06_schema_merge" -> QueryDef(
      (s, d) => {
        val r = tbl(s, d, "region")
        MergeOps.appendMergeSchema(
          r, r.withColumn("r_name_len", length(col("r_name")).cast("long")))
      },
      Some("""SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS r_name_len FROM region
             |UNION ALL SELECT r_regionkey, r_name, length(r_name) FROM region""".stripMargin)),

    // U3: MERGE upsert semantics (update-all / insert-all on PK)
    "q07_upsert" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
        val target = o.where(col("o_orderkey") % 3 =!= 0)
        val source = o.where(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("o_orderpriority", lit("UPDATED"))
        MergeOps.upsert(target, source, Seq("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2, o_orderdate, 'UPDATED'
             |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin)),

    // §2.11: Keboola input-mapping pre-filter
    "q08_input_mapping" -> QueryDef(
      (s, d) => MergeOps.inputMappingFilter(
        tbl(s, d, "customer"),
        whereColumn = Some("c_mktsegment"),
        whereValues = Seq("BUILDING", "AUTOMOBILE"),
        columns = Seq("c_custkey", "c_name", "c_mktsegment"),
        limit = None),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')""".stripMargin)),

    // ================= general analytics (engine capability) ============

    // TPC-H Q1 shape: scan-heavy aggregate
    "q10_pricing_summary" -> QueryDef(
      // money casts INLINE in the aggregate: the int128 sums fuse a
      // MoneyCastExpr child into pure long arithmetic (UnscaledOf) —
      // no Decimal object per row at all. (The r6 cast-hoist is
      // obsolete: re-evaluating a fused cast is three long ops.)
      (s, d) => tbl(s, d, "lineitem")
        .where(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(dec2(col("l_quantity"))).as("dq"),
          decSum(dec2(col("l_extendedprice"))).as("dp"),
          decSumProduct(dec2(col("l_extendedprice")),
            one - dec82(col("l_discount"))).as("ddp"),
          decSumProduct(dec2(col("l_extendedprice")),
            one - dec82(col("l_discount")), one + dec82(col("l_tax"))).as("dc"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("dq").cast("double").as("sum_qty"),
          col("dp").cast("double").as("sum_base_price"),
          round(col("ddp"), 2).cast("double").as("sum_disc_price"),
          round(col("dc"), 2).cast("double").as("sum_charge"),
          round(col("dq").cast("double") / col("count_order"), 4).as("avg_qty"),
          col("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))), 2) AS DOUBLE) AS sum_disc_price,
             |CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2))) * (CAST(1 AS DECIMAL(8,2)) + CAST(l_tax AS DECIMAL(8,2)))), 2) AS DOUBLE) AS sum_charge,
             |round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
             |COUNT(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q3 shape: selective join + top-k under total order
    "q11_top_revenue" -> QueryDef(
      (s, d) => {
        val c = tbl(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        val o = tbl(s, d, "orders")
          .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        // raw doubles ride the join (8 bytes vs 16 for a decimal);
        // the money casts sit INLINE in the aggregate where the
        // int128 sum fuses them to long arithmetic (UnscaledOf)
        val l = tbl(s, d, "lineitem")
          .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey", "o_orderdate")
          .agg(decSumProduct(dec2(col("l_extendedprice")),
            one - dec82(col("l_discount"))).as("rev"))
          .orderBy(col("rev").desc, col("o_orderkey"))
          .limit(10)
          .select(col("o_orderkey"), col("o_orderdate"),
            round(col("rev"), 2).cast("double").as("revenue"))
      },
      Some("""SELECT o_orderkey, o_orderdate,
             |CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))), 2) AS DOUBLE) AS revenue
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
             |AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
             |GROUP BY o_orderkey, o_orderdate
             |ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))) DESC, o_orderkey
             |LIMIT 10""".stripMargin)),

    // TPC-H Q5 shape: 6-table star join (broadcast dims)
    "q12_regional_revenue" -> QueryDef(
      (s, d) => {
        val region = tbl(s, d, "region").where(col("r_name") === "ASIA")
        val nation = tbl(s, d, "nation")
        val cust = tbl(s, d, "customer")
        val ord = tbl(s, d, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        // raw doubles through the joins; casts fuse in the aggregate
        val li = tbl(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
        val supp = tbl(s, d, "supplier")
        broadcast(region)
          .join(broadcast(nation), col("r_regionkey") === col("n_regionkey"))
          .join(cust, col("n_nationkey") === col("c_nationkey"))
          .join(ord, col("c_custkey") === col("o_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
          .groupBy("n_name")
          .agg(decSumProduct(dec2(col("l_extendedprice")),
            one - dec82(col("l_discount"))).as("rev"),
            count(lit(1)).as("n_items"))
          .select(col("n_name"), round(col("rev"), 2).cast("double").as("revenue"),
            col("n_items"))
      },
      Some("""SELECT n_name,
             |CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))), 2) AS DOUBLE) AS revenue,
             |COUNT(*) AS n_items
             |FROM region, nation, customer, orders, lineitem, supplier
             |WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey AND n_nationkey = c_nationkey
             |AND c_custkey = o_custkey AND o_orderkey = l_orderkey
             |AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
             |AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY n_name""".stripMargin)),

    // window functions: running totals per key. The running sum rides
    // the fused money cast + int128 decimal sum (r18, the q34 lesson
    // applied to the WINDOW frame): the built-in sum(DECIMAL(18,2))
    // promotes its accumulator to DECIMAL(28,2) — past the compact
    // long representation, so every frame update round-trips a boxed
    // BigDecimal — while graft_decimal_sum updates two primitive
    // longs. Result type and semantics identical (DecimalSumSpec);
    // only the once-per-row finish builds a Decimal, which the
    // built-in paid too.
    "q13_window_running" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        tbl(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("run_spend",
            decSum(dec2(col("o_totalprice"))).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("o_orderkey"), col("rn"),
            round(col("run_spend"), 2).cast("double").as("run_spend"))
      },
      Some("""SELECT o_orderkey,
             |CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn,
             |CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS run_spend
             |FROM orders""".stripMargin)),

    // distinct aggregates
    // Spark's one-distinct physical planning is already two-level
    // (partial agg on (priority, custkey), merge, then the distinct
    // count phases — NO Expand, no row replication; BENCHNOTES_r7 §3):
    // the plain form IS the right plan, and the remaining sf1 cost is
    // the distinct-pair exchange floor the decomposition measured
    "q14_distinct_agg" -> QueryDef(
      (s, d) => tbl(s, d, "orders").groupBy("o_orderpriority").agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_cust"),
        min(col("o_orderdate")).as("first_date"),
        max(col("o_orderdate")).as("last_date")),
      Some("""SELECT o_orderpriority, COUNT(*) AS n_orders,
             |COUNT(DISTINCT o_custkey) AS n_cust,
             |min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // set operations — (F ∩ O) \ P over custkeys of ONE table. The
    // literal intersect/except composition costs 3 scans + 3 shuffle
    // joins; same-source membership collapses it to one scan + one
    // flag aggregation (SetAlgebra scaladoc; OperatorSpec pins
    // equivalence with the intersect/except form).
    "q15_setops" -> QueryDef(
      (s, d) => SetAlgebra.sameSourceMembership(
        tbl(s, d, "orders"), "o_custkey",
        include = Seq(col("o_orderstatus") === "F", col("o_orderstatus") === "O"),
        exclude = Seq(col("o_orderstatus") === "P")),
      Some("""(SELECT o_custkey FROM orders WHERE o_orderstatus='F'
             |INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
             |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='P'""".stripMargin)),

    // semi-structured: JSON extraction + aggregate.
    // graft_json_long is the compiled form of
    // get_json_object(props,'$.k').cast("long") — one allocation-free
    // byte pass instead of a Jackson stream + string re-parse
    // (JsonKernelSpec pins agreement on adversarial inputs). The r6
    // rebalance that parallelized the Jackson parse is GONE: the
    // kernel runs 6x faster than the round-robin exchange it rode on
    // (0.15 s vs 0.71 s over 1M single-split rows, BENCHNOTES_r7),
    // so the parse belongs back in the scan task.
    "q16_events_json" -> QueryDef(
      (s, d) => tbl(s, d, "events")
        .select(col("event_type"), col("user_id"), col("value"),
          graft.functions.JsonKernelFunctions.jsonLong(col("props"), "k").as("k"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          decSum(dec2(col("value"))).cast("double").as("sum_value"),
          max(col("k")).as("max_k")),
      Some("""SELECT event_type, COUNT(*) AS n_events,
             |COUNT(DISTINCT user_id) AS n_users,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type""".stripMargin)),

    // sessionization: gap > 30 min starts a new session (lag + running sum)
    "q17_sessionize" -> QueryDef(
      (s, d) => {
        // epochMs adapts to the testdata's physical ts encoding
        // (raw-nanos LongType vs TIMESTAMP_NTZ — TimeFunctions).
        val ev0 = tbl(s, d, "events")
        val ev = ev0
          .select(col("user_id"), col("event_id"),
            graft.functions.TimeFunctions.epochMs(ev0).as("ms"),
            col("value"))
        val wo = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
        ev.withColumn("is_new",
            when(col("ms") - lag(col("ms"), 1).over(wo) > 1800000L, 1L)
              .otherwise(when(lag(col("ms"), 1).over(wo).isNull, 1L).otherwise(0L)))
          .withColumn("session_id",
            sum(col("is_new")).over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "session_id").agg(
            count(lit(1)).as("n_events"),
            decSum(dec2(col("value"))).cast("double").as("sum_value"),
            (max(col("ms")) - min(col("ms"))).as("dur_ms"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
             |m AS (SELECT user_id, event_id, ms, value,
             |  CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
             |       THEN 1 WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
             |       THEN 1 ELSE 0 END AS is_new FROM e),
             |s AS (SELECT user_id, ms, value,
             |  SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM m)
             |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |CAST(max(ms) - min(ms) AS BIGINT) AS dur_ms
             |FROM s GROUP BY user_id, session_id""".stripMargin)),

    // semi/anti joins (EXISTS / NOT EXISTS)
    "q09_semi_anti" -> QueryDef(
      (s, d) => {
        val c = tbl(s, d, "customer")
        val o = tbl(s, d, "orders")
        c.join(o.where(col("o_orderstatus") === "F"),
            c("c_custkey") === o("o_custkey"), "left_semi")
          .join(o.where(col("o_orderstatus") === "P").select(col("o_custkey").as("pk")),
            c("c_custkey") === col("pk"), "left_anti")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin)),

    // grouping sets: ROLLUP with deterministic decimal sums
    // pre-aggregated rollup (RollupOps): the finest-level GROUP BY
    // runs once over the fact table; Expand + super-aggregation run
    // over its handful of result rows instead of 3x the fact stream
    "q19_rollup" -> QueryDef(
      (s, d) => RollupOps.rollup(tbl(s, d, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(
            RollupOps.PreAgg(count(lit(1)), "n", RollupOps.ReSum),
            RollupOps.PreAgg(
              decSum(dec2(col("l_quantity"))), "sum_qty", RollupOps.ReSum)))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          col("sum_qty").cast("double").as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    // as-of join: each purchase matched to the user's most recent view
    "q18_asof_join" -> QueryDef(
      (s, d) => {
        val ev0 = tbl(s, d, "events")
        val ev = ev0.select(
          col("user_id"), col("event_id"),
          graft.functions.TimeFunctions.epochMs(ev0).as("ms"),
          col("event_type"), col("value"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ms"))
        val views = ev.where(col("event_type") === "view")
          .groupBy("user_id", "ms").agg(max(col("value")).as("view_value"))
        AsOfJoin.asOf(purchases, views, Seq("user_id"), "ms", "ms",
          rightValueCols = Seq("view_value"), rightTsAs = "view_ms")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type, value FROM events),
             |p AS (SELECT user_id, event_id, ms FROM e WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, ms, max(value) AS view_value FROM e WHERE event_type = 'view' GROUP BY user_id, ms)
             |SELECT p.user_id, p.event_id, p.ms, v.ms AS view_ms, v.view_value
             |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ms >= v.ms""".stripMargin)),

    // ================= LLM-pipeline extensions (SURVEY.md §7.5) =========

    // exact dedup on content digest
    "q20_dedup_exact" -> QueryDef(
      (s, d) => Dedup.exactSummary(tbl(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
             |COUNT(*) AS n_copies FROM documents GROUP BY md5(text)""".stripMargin)),

    // MinHash + LSH banding candidate pairs
    "q21_dedup_minhash" -> QueryDef(
      (s, d) => Dedup.lshCandidatePairs(tbl(s, d, "documents"), "doc_id", "text", k = 8, bands = 4),
      Some {
        val buckets = (0 until 4).map(b =>
          s"(CAST($b AS BIGINT) << 60) | CAST(('0x' || substr(md5(mh${2 * b} || mh${2 * b + 1}), 1, 15)) AS BIGINT)").mkString(", ")
        s"""WITH w AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS ws FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [text]
           |  ELSE list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS shs FROM w),
           |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
           |ab AS (SELECT doc_id, $duckAb FROM ex),
           |mh AS (SELECT doc_id, ${duckMinhash(8)} FROM ab GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest([$buckets]) AS bucket FROM mh)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin
      }),

    // SimHash sketch per document
    "q22_dedup_simhash" -> QueryDef(
      (s, d) => Dedup.simhashTable(tbl(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
      Some("""WITH w AS (SELECT doc_id,
             |  list_transform(string_split_regex(text, '\s+'),
             |    wd -> CAST(('0x' || substr(md5(wd), 1, 8)) AS BIGINT)) AS vals FROM documents)
             |SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 31), i ->
             |  CASE WHEN list_sum(list_transform(vals, v ->
             |    CASE WHEN (v >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS simhash
             |FROM w""".stripMargin)),

    // exact n-gram (3-shingle) overlap between sampled pairs
    "q23_ngram_overlap" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val pairs = docs.where(col("doc_id") % 37 === 0).select(col("doc_id").as("id_a"))
          .crossJoin(docs.where(col("doc_id") % 41 === 0).select(col("doc_id").as("id_b")))
          .where(col("id_a") < col("id_b"))
        Dedup.shingleOverlap(docs, "doc_id", "text", pairs)
          .select(col("id_a"), col("id_b"),
            col("n_inter").cast("long").as("n_inter"),
            col("n_union").cast("long").as("n_union"))
      },
      Some("""WITH w AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS ws FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) < 3 THEN [text]
             |  ELSE list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s FROM w),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM documents a, documents b
             |  WHERE a.doc_id % 37 = 0 AND b.doc_id % 41 = 0 AND a.doc_id < b.doc_id)
             |SELECT p.id_a, p.id_b,
             |  len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS n_inter,
             |  len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS n_union
             |FROM p JOIN sh sa ON sa.doc_id = p.id_a JOIN sh sb ON sb.doc_id = p.id_b""".stripMargin)),

    // embedding-cosine near-duplicate pairs
    "q24_dedup_embedding" -> QueryDef(
      (s, d) => Dedup.embeddingNearDup(
        tbl(s, d, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") % 20 === 0, threshold = 0.2),
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
             |SELECT a.vec_id AS probe_id, b.vec_id AS cand_id FROM e a, e b
             |WHERE a.vec_id % 20 = 0 AND a.vec_id < b.vec_id
             |AND list_cosine_similarity(a.v, b.v) > 0.2""".stripMargin)),

    // brute-force cosine top-k (exact ANN baseline)
    "q25_ann_bruteforce" -> QueryDef(
      (s, d) => Similarity.bruteForceTopK(
        tbl(s, d, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") % 100 === 0, k = 5),
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             |  round(list_cosine_similarity(p.v, c.v), 6) AS sim
             |  FROM e p, e c WHERE p.vec_id % 100 = 0 AND p.vec_id <> c.vec_id),
             |r AS (SELECT probe_id, cand_id, sim,
             |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
             |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 5""".stripMargin)),

    // LSH-bucketed ANN (the 100 TB path). Recall < 1 is by design, but
    // everything the query RETURNS is deterministic: hyperplanes are
    // md5-derived literals, so the oracle replays them verbatim (the
    // exact doubles Spark embeds, unrolled as left-associated term sums
    // — the same accumulation order as the codegen'd dot loop), and
    // scoring within buckets reuses q25's proven cosine replay. Only
    // the recall LEVEL stays spec-side (AnnIndexSpec). Dims are
    // hardcoded 64 = the testdata embedding width (Spark reads it from
    // the data; SQL can't).
    "q26_ann_lsh" -> QueryDef(
      (s, d) => Similarity.lshTopK(
        tbl(s, d, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") % 100 === 0, k = 5, planes = 8),
      Some {
        val dims = 64
        def planeDot(p: Int): String =
          (0 until dims).map { i =>
            s"v[${i + 1}]*(${Similarity.planeComponent(p, i)})"
          }.mkString(" + ")
        val sigExpr = (0 until 8).map { p =>
          s"(CASE WHEN (${planeDot(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |sg AS (SELECT vec_id, v, CAST($sigExpr AS BIGINT) AS sig FROM e),
           |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           |  round(list_cosine_similarity(p.v, c.v), 6) AS sim
           |  FROM sg p JOIN sg c USING (sig) WHERE p.vec_id % 100 = 0 AND p.vec_id <> c.vec_id),
           |r AS (SELECT probe_id, cand_id, sim,
           |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
           |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 5""".stripMargin
      }),

    // text quality stats
    "q27_text_stats" -> QueryDef(
      // one compiled pass for all five stats; the HOF/regex column
      // forms (TextAnalysis.wordCount & co) are the agreement-tested
      // spec, and what the oracle below replays
      (s, d) => TextAnalysis.textStats(tbl(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT doc_id,
             |len(string_split_regex(text, '\s+')) AS n_words,
             |len(list_distinct(string_split_regex(text, '\s+'))) AS n_uniq,
             |len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_tokens,
             |len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct,
             |list_max(list_transform(string_split_regex(text, '\s+'), w -> length(w))) AS longest_word
             |FROM documents""".stripMargin)),

    // heuristic language ID (marker stopwords, deterministic argmax)
    "q28_lang_id" -> QueryDef(
      (s, d) => {
        val t = col("text")
        val scores = TextAnalysis.LangMarkers.map { case (lang, ms) =>
          lang -> TextAnalysis.langScore(t, ms).cast("long")
        }
        val Seq(en, fr, de, es) = scores.map(_._2)
        Dedup.rebalance(tbl(s, d, "documents")).select(
          col("doc_id"),
          en.as("s_en"), fr.as("s_fr"), de.as("s_de"), es.as("s_es"),
          when(en >= fr && en >= de && en >= es, "en")
            .when(fr >= de && fr >= es, "fr")
            .when(de >= es, "de").otherwise("es").as("pred_lang"))
      },
      Some("""WITH sc AS (SELECT doc_id,
             |  len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('the','a','of','and'))) AS s_en,
             |  len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('le','la','et','de'))) AS s_fr,
             |  len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('der','die','und','das'))) AS s_de,
             |  len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('el','la','y','de'))) AS s_es
             |  FROM documents)
             |SELECT doc_id, s_en, s_fr, s_de, s_es,
             |CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
             |     WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
             |     WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS pred_lang
             |FROM sc""".stripMargin)),

    // rolling-hash document fingerprint
    "q29_fingerprint" -> QueryDef(
      (s, d) => Dedup.rebalance(
          tbl(s, d, "documents").select("doc_id", "text"), Seq(col("doc_id")))
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")),
      Some("""WITH w AS (SELECT doc_id,
             |  list_transform(string_split_regex(text, '\s+'),
             |    wd -> CAST(('0x' || substr(md5(wd), 1, 8)) AS BIGINT)) AS vals FROM documents)
             |SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
             |  (acc, v) -> (acc * 31 + v) % 1000000007) AS BIGINT) AS fp
             |FROM w""".stripMargin)),

    // multimodal: binary payload packing + magic-number sniff
    "q30_multimodal_meta" -> QueryDef(
      (s, d) => Multimodal.packAsMedia(tbl(s, d, "documents"), "doc_id", "text")
        .select(col("media_id"), col("format"), col("n_bytes"),
          md5(col("payload").cast("string")).as("content_md5")),
      Some("""SELECT doc_id AS media_id,
             |CASE WHEN hex(substr(text,1,4)) LIKE '89504E47%' THEN 'png'
             |     WHEN hex(substr(text,1,4)) LIKE 'FFD8FF%' THEN 'jpeg'
             |     WHEN hex(substr(text,1,4)) LIKE '47494638%' THEN 'gif'
             |     WHEN hex(substr(text,1,4)) LIKE '52494646%' THEN 'riff'
             |     WHEN hex(substr(text,1,4)) LIKE '664C6143%' THEN 'flac'
             |     WHEN hex(substr(text,1,4)) LIKE '1A45DFA3%' THEN 'matroska'
             |     WHEN hex(substr(text,5,4)) = '66747970' THEN 'mp4'
             |     ELSE 'unknown' END AS format,
             |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |md5(text) AS content_md5
             |FROM documents""".stripMargin)),
  )

  /** Additional capability queries appended after the §7.5 block. */
  private val more: Seq[(String, QueryDef)] = Seq(

    // top-k per group via the mergeable bounded-heap aggregate
    // (Ranking.topKPerGroup, r18): the window-rank form sorted every
    // group's FULL row set per scan split before WindowGroupLimit
    // could trim it (plans/r18/q31_topk_per_group_before.txt: two
    // Sort nodes around the exchange — 1.5M rows sorted per split at
    // sf1, 15M at sf10); the heap keeps 3 candidates per group per
    // task, the exchange carries splits x groups x 3 rows, and the
    // plan has NO Sort node at all (the r7 keyed rebalance is gone
    // too: a serial heap pass is ~ns/row, cheaper than the exchange
    // it rode on). Tie rule (o_totalprice DESC, o_orderkey ASC) is
    // identical in both forms (RankingSpec pins window ≡ heap on
    // non-null data); both columns pass through the heap bit-unchanged
    // (double / long slots).
    "q31_topk_per_group" -> QueryDef(
      (s, d) => Ranking.topKPerGroup(
        tbl(s, d, "orders"), Seq("o_orderpriority"),
        orderCol = "o_totalprice", idCol = "o_orderkey", k = 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
             |  FROM orders) WHERE rk <= 3""".stripMargin)),

    // range join: purchase paired with same-user errors within ±5 min
    "q32_range_join" -> QueryDef(
      (s, d) => {
        val ev0 = tbl(s, d, "events")
        val ev = ev0.select(
          col("user_id"), col("event_id"),
          graft.functions.TimeFunctions.epochMs(ev0).as("ms"),
          col("event_type"))
        val p = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"), col("ms").as("pms"))
        val e = ev.where(col("event_type") === "error")
          .select(col("user_id").as("u2"), col("event_id").as("error_id"), col("ms").as("ems"))
        p.join(e, col("user_id") === col("u2") &&
            col("ems") >= col("pms") - 300000L && col("ems") <= col("pms") + 300000L)
          .select(col("user_id"), col("purchase_id"), col("error_id"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events)
             |SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
             |FROM ev p JOIN ev e ON p.user_id = e.user_id
             | AND p.event_type = 'purchase' AND e.event_type = 'error'
             | AND e.ms >= p.ms - 300000 AND e.ms <= p.ms + 300000""".stripMargin)),

    // skew-resistant salted aggregation (result ≡ plain GROUP BY)
    "q34_salted_agg" -> QueryDef(
      (s, d) => SkewOps.saltedAgg(
        tbl(s, d, "lineitem"), "l_returnflag", "l_quantity", saltBuckets = 16),
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // IVF-style ANN (data-adaptive inverted lists). Recall < 1 is by
    // design, but the RETURNED rows are deterministic: the coarse
    // quantizer is the first 16 corpus vectors by id, list assignment
    // is argmax-dot with id tiebreak, and within-candidate scoring is
    // q25's proven cosine replay — all SQL-expressible. The dot is
    // unrolled as a left-associated 64-term sum, matching the codegen
    // loop's accumulation order exactly; only the recall level stays
    // spec-side (AnnIndexSpec).
    "q35_ann_ivf" -> QueryDef(
      (s, d) => Similarity.ivfTopK(
        tbl(s, d, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") % 100 === 0, k = 5),
      Some {
        val dot = (1 to 64).map(i => s"e.v[$i] * cent.cv[$i]").mkString(" + ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, v AS cv
           |  FROM e ORDER BY vec_id LIMIT 16),
           |dots AS (SELECT e.vec_id, cent.cid, ($dot) AS dot FROM e, cent),
           |ranked AS (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn FROM dots),
           |corpus AS (SELECT vec_id AS cand_id, cid AS list_id FROM ranked WHERE rn = 1),
           |probes AS (SELECT vec_id AS probe_id, cid AS list_id FROM ranked
           |  WHERE rn <= 4 AND vec_id % 100 = 0),
           |s AS (SELECT p.probe_id, c.cand_id,
           |  round(list_cosine_similarity(pe.v, ce.v), 6) AS sim
           |  FROM probes p JOIN corpus c USING (list_id)
           |  JOIN e pe ON pe.vec_id = p.probe_id
           |  JOIN e ce ON ce.vec_id = c.cand_id
           |  WHERE p.probe_id <> c.cand_id),
           |r AS (SELECT probe_id, cand_id, sim,
           |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
           |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 5""".stripMargin
      }),

    // scalar string-function surface
    "q36_string_funcs" -> QueryDef(
      (s, d) => tbl(s, d, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("u"),
        lower(col("c_mktsegment")).as("l"),
        substring(col("c_name"), 1, 8).as("pre"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
        length(trim(col("c_name"))).cast("long").as("len"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        col("c_name").like("%1%").as("has_one")),
      Some("""SELECT c_custkey, upper(c_name) AS u, lower(c_mktsegment) AS l,
             |substr(c_name, 1, 8) AS pre,
             |regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
             |length(trim(c_name)) AS len,
             |lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
             |concat_ws('|', c_mktsegment, c_name) AS joined,
             |c_name LIKE '%1%' AS has_one FROM customer""".stripMargin)),

    // scalar date/time-function surface
    "q37_date_funcs" -> QueryDef(
      (s, d) => tbl(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).cast("long").as("days_since")),
      Some("""SELECT o_orderkey,
             |CAST(year(o_orderdate) AS BIGINT) AS y,
             |CAST(month(o_orderdate) AS BIGINT) AS m,
             |CAST(day(o_orderdate) AS BIGINT) AS dom,
             |CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             |datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
             |FROM orders""".stripMargin)),

    // conditional / null-handling surface
    "q38_conditional" -> QueryDef(
      (s, d) => tbl(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_discount") > 0.05, "high")
          .when(col("l_discount") > 0.02, "mid").otherwise("low").as("disc_band"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag_or_none"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"),
        least(col("l_quantity"), lit(10.0)).as("capped_qty")),
      Some("""SELECT l_orderkey, l_linenumber,
             |CASE WHEN l_discount > 0.05 THEN 'high'
             |     WHEN l_discount > 0.02 THEN 'mid' ELSE 'low' END AS disc_band,
             |coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none,
             |greatest(l_tax, l_discount) AS max_rate,
             |least(l_quantity, 10.0) AS capped_qty FROM lineitem""".stripMargin)),

    // composite document quality score (integer-exact filtering signal)
    "q33_quality_score" -> QueryDef(
      (s, d) => {
        // the three ingredients come from the single-pass textStats
        // kernel (the HOF forms are its agreement-tested spec)
        val st = graft.functions.TextKernelFunctions.textStats(col("text"))
        val score = col("st.n_uniq") * 3 - col("st.n_punct") * 2 +
          least(col("st.n_words"), lit(100L))
        Dedup.rebalance(
            tbl(s, d, "documents").select("doc_id", "text"), Seq(col("doc_id")))
          .select(col("doc_id"), st.as("st"))
          .select(col("doc_id"), score.as("quality"),
            (score >= 150L).as("keep"))
      },
      Some("""WITH m AS (SELECT doc_id,
             |  len(string_split_regex(text, '\s+')) AS words,
             |  len(list_distinct(string_split_regex(text, '\s+'))) AS uniq,
             |  len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS punct
             |  FROM documents)
             |SELECT doc_id, uniq * 3 - punct * 2 + least(words, 100) AS quality,
             |  (uniq * 3 - punct * 2 + least(words, 100)) >= 150 AS keep FROM m""".stripMargin)),
  )

  private val more2: Seq[(String, QueryDef)] = Seq(

    // multimodal frame sampling (integer chunk math — oracle-checked)
    "q39_frame_sample" -> QueryDef(
      (s, d) => Multimodal.frameSample(
        Multimodal.packAsMedia(tbl(s, d, "documents"), "doc_id", "text"),
        chunkBytes = 64, stride = 2),
      Some("""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
             |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS chunk_no,
             |  CAST(i * 64 AS BIGINT) AS byte_offset
             |FROM m, UNNEST(generate_series(0, greatest((n - 1) // 64, 0))) AS t(i)
             |WHERE i % 2 = 0""".stripMargin)),

    // token explosion with position (UDTF/generator shape)
    "q41_token_explode" -> QueryDef(
      (s, d) => Dedup.rebalance(
          tbl(s, d, "documents").select("doc_id", "text"), Seq(col("doc_id")))
        .select(col("doc_id"),
          posexplode(slice(TextAnalysis.words(col("text")), 1, 5)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("word")),
      Some("""WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents)
             |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
             |FROM w, UNNEST(generate_series(1, least(len(ws), 5))) AS t(i)""".stripMargin)),

    // entity-level minhash: signature of a source = union (elementwise
    // min) of its documents' signatures, which by the minhash identity
    // is just the signature GROUPED BY source — one explode + one
    // partial-agg groupBy, shuffle = sources × k longs, fully inside
    // HashAggregate codegen (the typed MinHashUnion Aggregator remains
    // the Dataset-pipeline form for already-materialized signature
    // arrays; OperatorSpec proves the two agree)
    "q42_source_minhash" -> QueryDef(
      (s, d) => Dedup.minhashSignaturesByKey(
        tbl(s, d, "documents"), "source", "text", k = 8),
      Some {
        s"""WITH w AS (SELECT doc_id, source, text, string_split_regex(text, '\\s+') AS ws FROM documents),
           |sh AS (SELECT doc_id, source, CASE WHEN len(ws) < 3 THEN [text]
           |  ELSE list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS shs FROM w),
           |ex AS (SELECT source, unnest(shs) AS s FROM sh),
           |ab AS (SELECT source, $duckAb FROM ex)
           |SELECT source, ${duckMinhash(8)} FROM ab GROUP BY source""".stripMargin
      }),

    // character n-gram Jaccard between sampled pairs (char-level
    // complement to the word-shingle overlap of q23)
    "q45_char_ngram" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val pairs = docs.where(col("doc_id") % 53 === 0).select(col("doc_id").as("id_a"))
          .crossJoin(docs.where(col("doc_id") % 59 === 0).select(col("doc_id").as("id_b")))
          .where(col("id_a") < col("id_b"))
        Dedup.charNgramOverlap(docs, "doc_id", "text", 4, pairs)
          .select(col("id_a"), col("id_b"),
            col("n_inter").cast("long").as("n_inter"),
            col("n_union").cast("long").as("n_union"))
      },
      Some("""WITH g AS (SELECT doc_id, list_distinct(CASE WHEN length(text) < 4 THEN [text]
             |  ELSE list_transform(generate_series(1, length(text) - 3), i -> substr(text, i, 4)) END) AS cg
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  len(list_filter(a.cg, x -> list_contains(b.cg, x))) AS n_inter,
             |  len(a.cg) + len(b.cg) - len(list_filter(a.cg, x -> list_contains(b.cg, x))) AS n_union
             |FROM g a, g b WHERE a.doc_id % 53 = 0 AND b.doc_id % 59 = 0 AND a.doc_id < b.doc_id""".stripMargin)),

    // exact quantiles via deterministic rank selection (portable across
    // engines, unlike interpolating quantile functions). Extraction
    // only needs FOUR order statistics, so GroupQuantiles' sketch-
    // bracketed selection (constant group) beats even the distributed
    // range-sort (Ranking.globalRowNumber stays for consumers that
    // need EVERY row ranked): three parallel scans and a bracket-sized
    // sort replace shuffling the whole table into range partitions.
    "q46_quantiles" -> QueryDef(
      (s, d) => GroupQuantiles.exact(
          tbl(s, d, "orders").withColumn("g", lit(1)),
          Seq("g"), "o_totalprice", Seq(0.25, 0.5, 0.75, 0.95))
        .select(col("rk"), col("o_totalprice")),
      Some("""WITH r AS (SELECT o_totalprice,
             |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
             |  COUNT(*) OVER () AS n FROM orders)
             |SELECT CAST(rk AS BIGINT) AS rk, o_totalprice FROM r
             |WHERE rk IN (CAST(ceil(0.25 * n) AS BIGINT), CAST(ceil(0.5 * n) AS BIGINT),
             |             CAST(ceil(0.75 * n) AS BIGINT), CAST(ceil(0.95 * n) AS BIGINT))""".stripMargin)),

    // CUBE grouping sets
    // pre-aggregated cube (RollupOps — see q19): Expand multiplies a
    // ~15-row pre-aggregate by 4 grouping sets, not the fact table
    "q43_cube" -> QueryDef(
      (s, d) => RollupOps.cube(tbl(s, d, "orders"),
          Seq("o_orderstatus", "o_orderpriority"),
          Seq(
            RollupOps.PreAgg(count(lit(1)), "n", RollupOps.ReSum),
            RollupOps.PreAgg(
              decSum(dec2(col("o_totalprice"))), "total", RollupOps.ReSum)))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
          col("total").cast("double").as("total")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin)),

    // pivot (wide conditional aggregation)
    "q44_pivot" -> QueryDef(
      (s, d) => tbl(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(decSum(dec2(col("o_totalprice"))))
        .select(col("o_orderpriority"),
          col("F").cast("double").as("F"),
          col("O").cast("double").as("O"),
          col("P").cast("double").as("P")),
      Some("""SELECT o_orderpriority,
             |CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
             |CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
             |CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // theta distinct in the EXACT regime (the q63 pattern): lgK=16
    // gives 65536 nominal entries vs ≤13k distinct custkeys per
    // priority at the verified SFs, so the sketch never samples
    // (theta = 1), the estimate IS the true distinct count, and the
    // query carries a plain COUNT(DISTINCT) oracle — the hash match
    // proves the whole sketch pipeline (hash dispatch, partial
    // unions, serde across exchanges) is faithful. The estimation
    // regime's ±2% bound stays OperatorSpec's job.
    "q40_theta_distinct" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
        o.groupBy("o_orderpriority").agg(
          graft.functions.SketchFunctions
            .thetaDistinct(col("o_custkey"), lgK = 16).as("approx_cust"))
      },
      Some("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS approx_cust
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // duplicate-CLUSTER labels: transitive closure of the q21 LSH
    // candidate pairs via alternating large-star/small-star (the step
    // that turns near-dup pairs into keep-one-per-cluster decisions)
    "q47_dedup_components" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        // star edges, not all-pairs: identical components (the oracle
        // closes over the full pair set and hash-matches), linear
        // instead of quadratic edge growth in near-dup cluster size
        val edges = Dedup.lshClusterEdges(docs, "doc_id", "text", k = 8, bands = 4)
        ConnectedComponents.labels(docs, "doc_id", edges)
          .select(col("id").as("doc_id"), col("component"))
      },
      Some {
        val buckets = (0 until 4).map(b =>
          s"(CAST($b AS BIGINT) << 60) | CAST(('0x' || substr(md5(mh${2 * b} || mh${2 * b + 1}), 1, 15)) AS BIGINT)").mkString(", ")
        s"""WITH RECURSIVE w AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS ws FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [text]
           |  ELSE list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS shs FROM w),
           |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
           |ab AS (SELECT doc_id, $duckAb FROM ex),
           |mh AS (SELECT doc_id, ${duckMinhash(8)} FROM ab GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest([$buckets]) AS bucket FROM mh),
           |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs),
           |cc(id, x) AS (SELECT doc_id, doc_id FROM documents
           |  UNION SELECT cc.id, e.v FROM cc JOIN edges e ON cc.x = e.u)
           |SELECT id AS doc_id, min(x) AS component FROM cc GROUP BY id""".stripMargin
      }),

    // deterministic stratified sampling: per-language keep rates from a
    // key-hash coin — reproducible on any cluster layout / engine, and
    // a map-only scan predicate (no shuffle, no RNG state)
    "q48_stratified_sample" -> QueryDef(
      (s, d) => Sampling.stratifiedSample(
        tbl(s, d, "documents"), col("doc_id"), col("lang"),
        Map("en" -> 0.05), default = 0.25)
        .select(col("doc_id"), col("lang")),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |      / 4294967296.0
             |  < CASE WHEN lang = 'en' THEN 0.05 ELSE 0.25 END""".stripMargin)),

    // per-document distinctive terms by TF-IDF; rank rides on the
    // MICRO-QUANTIZED score (floor(score*1e6) as BIGINT) so the oracle
    // hash-compare never depends on last-ulp float log differences
    // between engines (see TextAnalysis.topTermsByTfidf)
    "q49_top_terms" -> QueryDef(
      (s, d) => TextAnalysis.topTermsByTfidf(tbl(s, d, "documents"), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("dfreq")),
      Some("""WITH w AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
             |df AS (SELECT word, COUNT(*) AS dfreq FROM tf GROUP BY word),
             |n AS (SELECT COUNT(*) AS n FROM documents),
             |ranked AS (SELECT tf.doc_id, tf.word, tf.tf, df.dfreq,
             |  row_number() OVER (PARTITION BY tf.doc_id
             |    ORDER BY CAST(floor(tf.tf * ln(CAST(n.n AS DOUBLE) / df.dfreq) * 1e6) AS BIGINT) DESC,
             |             tf.tf DESC, tf.word ASC) AS rk
             |  FROM tf JOIN df USING (word), n)
             |SELECT doc_id, CAST(rk AS BIGINT) AS rk, word, tf, dfreq
             |FROM ranked WHERE rk <= 3""".stripMargin)),

    // the dedup pipeline APPLIED end to end: LSH pairs → components →
    // keep the minimum-id representative of every near-dup cluster
    // (the keep-set an ingest job anti-joins the corpus against)
    "q50_dedup_apply" -> QueryDef(
      (s, d) => Dedup.dedupCorpus(tbl(s, d, "documents"), "doc_id", "text", k = 8, bands = 4)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept")),
      Some {
        val buckets = (0 until 4).map(b =>
          s"(CAST($b AS BIGINT) << 60) | CAST(('0x' || substr(md5(mh${2 * b} || mh${2 * b + 1}), 1, 15)) AS BIGINT)").mkString(", ")
        s"""WITH RECURSIVE w AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS ws FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [text]
           |  ELSE list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS shs FROM w),
           |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
           |ab AS (SELECT doc_id, $duckAb FROM ex),
           |mh AS (SELECT doc_id, ${duckMinhash(8)} FROM ab GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest([$buckets]) AS bucket FROM mh),
           |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs),
           |cc(id, x) AS (SELECT doc_id, doc_id FROM documents
           |  UNION SELECT cc.id, e.v FROM cc JOIN edges e ON cc.x = e.u),
           |keep AS (SELECT id AS doc_id FROM cc GROUP BY id HAVING id = min(x))
           |SELECT d.lang, COUNT(*) AS n_kept
           |FROM documents d JOIN keep USING (doc_id) GROUP BY d.lang""".stripMargin
      }),

    // exact PER-GROUP quantiles via partitioned rank selection — the
    // group-wise complement of q46 (whose rank is global): windows
    // partition by the group key, so every group sorts independently
    // and no single task ever sees more than one group's rows
    // exact per-group median/p95 by distributed SELECTION, not a
    // per-group sort: the window formulation funnels each priority
    // class through ONE task (5 reducers sort 3M rows each at sf10;
    // 20 TB per task at 100 TB). GroupQuantiles brackets the target
    // rank with a mergeable KLL sketch, then sorts only the ~7% of
    // rows inside the bracket — same rows, no group-wide sort. Routed
    // through the crossover dispatcher: 5 task-dwarfing groups pick
    // the selection plan (r14; the many-small-groups regime would
    // pick the window — BENCHNOTES_r13 §2 crossover).
    "q51_group_quantiles" -> QueryDef(
      (s, d) => GroupQuantiles.auto(
          tbl(s, d, "orders"), Seq("o_orderpriority"), "o_totalprice",
          Seq(0.5, 0.95))
        .select(col("o_orderpriority"), col("rk"), col("o_totalprice")),
      Some("""WITH r AS (SELECT o_orderpriority, o_totalprice,
             |  row_number() OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice, o_orderkey) AS rk,
             |  COUNT(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders)
             |SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk, o_totalprice
             |FROM r WHERE rk = CAST(ceil(0.5 * n) AS BIGINT)
             |   OR rk = CAST(ceil(0.95 * n) AS BIGINT)""".stripMargin)),

    // sequence-length bucketing for training-batch assembly: batching
    // similar-length docs minimizes padding waste; integer bucket math
    // is portable and the aggregation partial-aggregates
    "q53_length_buckets" -> QueryDef(
      (s, d) => tbl(s, d, "documents")
        .groupBy(Packing.lengthBuckets(col("n_chars"), 64).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars")),
      Some("""SELECT CAST(floor(n_chars / 64) AS BIGINT) AS bucket,
             |COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
             |FROM documents GROUP BY 1""".stripMargin)),

    // config-driven quality filtering (the C4-style cleaning pass):
    // every enabled rule folds into ONE scan-side conjunction — a
    // quality pass is a map-only scan, never a shuffle
    "q54_quality_filter" -> QueryDef(
      (s, d) => QualityFilters(
        tbl(s, d, "documents"), "text", "lang",
        QualityFilters.FilterConfig(
          minChars = Some(120), maxChars = Some(520),
          minWords = Some(15),
          maxPunctRatio = Some(0.08),
          minUniqueWordRatio = Some(0.5),
          langAllow = Seq("en", "fr", "de")))
        .select(col("doc_id"), col("lang")),
      Some("""WITH m AS (SELECT doc_id, lang, text,
             |  len(string_split_regex(trim(text), '\s+')) AS n_words,
             |  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_uniq,
             |  length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct
             |  FROM documents)
             |SELECT doc_id, lang FROM m
             |WHERE length(text) >= 120 AND length(text) <= 520
             |  AND n_words >= 15
             |  AND CAST(n_punct AS DOUBLE) / length(text) <= 0.08
             |  AND CAST(n_uniq AS DOUBLE) / n_words >= 0.5
             |  AND lang IN ('en', 'fr', 'de')""".stripMargin)),

    // incremental-distinct maintenance shape: per-day theta sketches
    // (the storable summary an ingest job appends) unioned per event
    // type — distinct users over any slice without rescanning raw
    // data. EXACT regime end-to-end (see q40): ≤1.5k distinct users
    // per type at the verified SFs vs 65536 union capacity, so both
    // the per-day binaries and the rollup union retain every hash and
    // DuckDB replays the estimate as COUNT(DISTINCT user_id) — the
    // hash gate covers the store-then-merge half (binary serde on the
    // lake row, union of stored sketches) that q40 alone does not.
    "q52_sketch_rollup" -> QueryDef(
      (s, d) => {
        val ev0 = tbl(s, d, "events")
        val ev = ev0
          .withColumn("day", graft.functions.TimeFunctions.utcDay(ev0))
        val daily = ev.groupBy("event_type", "day").agg(
          graft.functions.SketchFunctions
            .thetaSketch(col("user_id"), lgK = 16).as("sk"))
        daily.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n_days"),
          graft.functions.SketchFunctions
            .thetaUnion(col("sk"), lgK = 16).as("distinct_users_est"))
      },
      Some("""WITH e AS (SELECT event_type, user_id,
             |  CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day FROM events)
             |SELECT event_type, COUNT(DISTINCT day) AS n_days,
             |  COUNT(DISTINCT user_id) AS distinct_users_est
             |FROM e GROUP BY event_type""".stripMargin)),

    // mergeable quantile maintenance: per-day KLL sketches rolled up
    // per event type — any quantile over any slice from KB summaries,
    // no raw-data rescan. EXACT regime end-to-end (see q40 and the
    // KllFunctions.DefaultK scaladoc): k=65535 ≥ the per-type row
    // count at the verified SFs, so no compaction ever fires, the
    // rolled-up sketch is the full sorted sample, and getQuantile's
    // inclusive order statistic equals DuckDB's quantile_disc
    // bit-for-bit (both pick an actual data value). Compaction-regime
    // rank bounds stay OperatorSpec's job.
    "q58_kll_rollup" -> QueryDef(
      (s, d) => {
        val ev0 = tbl(s, d, "events")
        val ev = ev0
          .withColumn("day", graft.functions.TimeFunctions.utcDay(ev0))
        val daily = ev.groupBy("event_type", "day").agg(
          graft.functions.KllFunctions
            .kllSketch(col("value"), k = 65535).as("sk"))
        daily.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n_days"),
          graft.functions.KllFunctions
            .kllUnion(col("sk"), k = 65535).as("usk"))
          .select(col("event_type"), col("n_days"),
            graft.functions.KllFunctions.kllQuantile(col("usk"), 0.5).as("p50_est"),
            graft.functions.KllFunctions.kllQuantile(col("usk"), 0.95).as("p95_est"))
      },
      Some("""WITH e AS (SELECT event_type, value,
             |  CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day FROM events)
             |SELECT event_type, COUNT(DISTINCT day) AS n_days,
             |  quantile_disc(value, 0.5) AS p50_est,
             |  quantile_disc(value, 0.95) AS p95_est
             |FROM e GROUP BY event_type""".stripMargin)),

    // benchmark decontamination (GPT-3-style 13-gram collision): the
    // mod-101 docs stand in for a held-out eval set; the corpus side
    // is a broadcast hash probe — it never shuffles at any scale
    "q55_decontaminate" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val grams = Decontamination.benchmarkGrams(
          docs.where(col("doc_id") % 101 === 0), "text", n = 13)
        Decontamination.contaminated(docs, "doc_id", "text", grams, n = 13)
          .withColumnRenamed("id", "doc_id")
      },
      Some {
        // exact replay of Decontamination's double polynomial rolling
        // hash: per-word 30-bit md5 values, two 30-bit folds (the
        // prepended 0 reproduces Spark's aggregate zero), combined to
        // 60 bits — all intermediates < 2^35, exact in int64 here too
        import graft.operators.Decontamination.{M1, M2, P1, P2}
        def fold(sub: String): String =
          s"list_reduce(list_prepend(0, $sub), (a,v) -> (a*$P1+v)%$M1) * ${1L << 30} + " +
            s"list_reduce(list_prepend(0, $sub), (a,v) -> (a*$P2+v)%$M2)"
        s"""WITH w AS (SELECT doc_id, list_transform(string_split_regex(text, '\\s+'),
           |  wd -> CAST(('0x' || substr(md5(wd), 1, 8)) AS BIGINT) & ${(1L << 30) - 1}) AS wv FROM documents),
           |g AS (SELECT doc_id, CASE WHEN len(wv) < 13 THEN [${fold("wv")}]
           |  ELSE list_transform(generate_series(1, len(wv)-12), i -> ${fold("wv[i:i+12]")}) END AS gs FROM w),
           |hx AS (SELECT doc_id, unnest(list_distinct(gs)) AS h FROM g),
           |bench AS (SELECT DISTINCT h FROM hx WHERE doc_id % 101 = 0),
           |hits AS (SELECT doc_id, COUNT(*) AS n_hits FROM hx JOIN bench USING (h) GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(hits.n_hits, 0) AS n_hits,
           |  COALESCE(hits.n_hits, 0) > 0 AS contaminated
           |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id""".stripMargin
      }),

    // word-repetition profile (the C4 boilerplate/spam signal): a page
    // that is mostly one repeated token survives length and
    // punctuation filters but not this one
    "q56_repetition" -> QueryDef(
      (s, d) => Scrubbing.repetitionStats(tbl(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
      Some("""WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
             |  FROM documents),
             |c AS (SELECT doc_id, word, COUNT(*) AS c FROM w
             |  WHERE word <> '' GROUP BY doc_id, word),
             |s AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             |  CAST(MAX(c) AS BIGINT) AS top_count FROM c GROUP BY doc_id)
             |SELECT d.doc_id, COALESCE(s.n_words, 0) AS n_words,
             |  COALESCE(s.top_count, 0) AS top_count,
             |  CASE WHEN COALESCE(s.n_words, 0) > 0
             |    THEN CAST(s.top_count AS DOUBLE) / CAST(s.n_words AS DOUBLE)
             |    ELSE 0.0 END AS top_ratio
             |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin)),

    // PII inventory + redaction digest: engine-portable regexes, fixed
    // application order, md5 of the redacted text proves byte-identical
    // scrubbing across engines; map-only — no shuffle at any scale
    "q57_pii_scrub" -> QueryDef(
      (s, d) => Scrubbing.piiScrub(tbl(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
      Some {
        // the Scala pattern strings contain single backslashes, which
        // DuckDB single-quoted literals pass through verbatim
        val email = Scrubbing.EmailRe
        val phone = Scrubbing.PhoneRe
        val ip = Scrubbing.Ipv4Re
        s"""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
           |  md5(regexp_replace(regexp_replace(regexp_replace(text,
           |    '$email', '[EMAIL]', 'g'),
           |    '$phone', '[PHONE]', 'g'),
           |    '$ip', '[IP]', 'g')) AS redacted_md5
           |FROM documents""".stripMargin
      }),

    // ========== DSv2 + SQL-DML parity: the reference's GENERATED ==========
    // statements run verbatim through GraftCatalog + GraftDmlRule:
    // CREATE TABLE … PRIMARY KEY (component.py:216-224), INSERT INTO …
    // SELECT CAST(…) from an all-string stage (:228-236), and MERGE
    // INTO … WHEN MATCHED THEN UPDATE … WHEN NOT MATCHED THEN INSERT
    // (:249-258). Every step is pure `spark.sql`; the result is the
    // final table content read back through the catalog, so the oracle
    // replays the merge algebra (same shape as q07's, plus the
    // string-stage round trip, which is exact — q02 proves the hash).
    "q59_sql_merge" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
        val asStage = o.columns.toSeq.map(c => col(c).cast("string").as(c))
        s.sql("DROP TABLE IF EXISTS graft.default.q59_orders")
        // merge-on-read: the 20% scattered keys defeat matched-file
        // pruning, so copy-on-write degenerates to a full-table rewrite
        // per batch — the one plan a standing upsert pipeline cannot
        // run at 100 TB. With DVs the MERGE writes O(changed rows).
        s.sql("""CREATE TABLE graft.default.q59_orders (
          o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING,
          PRIMARY KEY (o_orderkey)) USING graft
          TBLPROPERTIES('graft.merge.mode'='merge-on-read')""")
        o.where(col("o_orderkey") % 3 =!= 0).select(asStage: _*)
          .createOrReplaceTempView("q59_stage_seed")
        s.sql("""INSERT INTO graft.default.q59_orders
          SELECT CAST(o_orderkey AS BIGINT), CAST(o_custkey AS BIGINT),
                 CAST(o_orderstatus AS STRING), CAST(o_totalprice AS DOUBLE),
                 CAST(o_orderdate AS TIMESTAMP), CAST(o_orderpriority AS STRING)
          FROM q59_stage_seed""")
        o.where(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("o_orderpriority", lit("UPDATED"))
          .select(asStage: _*)
          .createOrReplaceTempView("q59_stage_delta")
        s.sql("""MERGE INTO graft.default.q59_orders AS target
          USING q59_stage_delta AS source
          ON target.o_orderkey = CAST(source.o_orderkey AS BIGINT)
          WHEN MATCHED THEN UPDATE SET
            target.o_orderkey = CAST(source.o_orderkey AS BIGINT),
            target.o_custkey = CAST(source.o_custkey AS BIGINT),
            target.o_orderstatus = CAST(source.o_orderstatus AS STRING),
            target.o_totalprice = CAST(source.o_totalprice AS DOUBLE),
            target.o_orderdate = CAST(source.o_orderdate AS TIMESTAMP),
            target.o_orderpriority = CAST(source.o_orderpriority AS STRING)
          WHEN NOT MATCHED THEN INSERT
            (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
            VALUES (CAST(source.o_orderkey AS BIGINT), CAST(source.o_custkey AS BIGINT),
                    CAST(source.o_orderstatus AS STRING), CAST(source.o_totalprice AS DOUBLE),
                    CAST(source.o_orderdate AS TIMESTAMP), CAST(source.o_orderpriority AS STRING))""")
        s.sql("SELECT * FROM graft.default.q59_orders")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2, o_orderdate, 'UPDATED'
             |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin)),

    // distributed Lloyd's k-means over embeddings — the trained coarse
    // quantizer for IVF and the clustering step of semantic-dedup /
    // diversity-sampling pipelines. Every float step is quantized
    // (floor(d*1e6) distances, lowest-cid tiebreak, round(mean, 6)
    // between iterations), so DuckDB replays the full iteration
    // bit-for-bit — see Clustering's determinism notes.
    "q60_kmeans" -> QueryDef(
      (s, d) => Clustering.kmeansAssignments(
        tbl(s, d, "embeddings"), "vec_id", "embedding", k = 4, iters = 2),
      Some {
        def dot(t: String) = (1 to 64).map(i => s"e.v[$i] * $t.c[$i]").mkString(" + ")
        def n2(t: String) = (1 to 64).map(i => s"$t.c[$i] * $t.c[$i]").mkString(" + ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, v AS c
           |  FROM e ORDER BY vec_id LIMIT 4),
           |d1 AS (SELECT e.vec_id, e.v, c0.cid,
           |  CAST(floor(((${n2("c0")}) - 2 * (${dot("c0")})) * 1000000) AS BIGINT) AS qd FROM e, c0),
           |a1 AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY qd, cid) AS rn FROM d1) WHERE rn = 1),
           |m1 AS (SELECT cid, d.dim, round(avg(a1.v[d.dim]), 6) AS m
           |  FROM a1, (SELECT unnest(generate_series(1, 64)) AS dim) d GROUP BY cid, d.dim),
           |cm AS (SELECT cid, array_agg(m ORDER BY dim) AS c FROM m1 GROUP BY cid),
           |c1 AS (SELECT c0.cid, COALESCE(cm.c, c0.c) AS c FROM c0 LEFT JOIN cm USING (cid)),
           |d2 AS (SELECT e.vec_id, c1.cid,
           |  CAST(floor(((${n2("c1")}) - 2 * (${dot("c1")})) * 1000000) AS BIGINT) AS qd FROM e, c1)
           |SELECT vec_id, CAST(cid AS INTEGER) AS cluster FROM (
           |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY qd, cid) AS rn FROM d2)
           |WHERE rn = 1""".stripMargin
      }),

    // REAL image decode end-to-end: deterministic synthetic PNGs are
    // rendered from doc_id (dims + solid fill are pure integer
    // functions of the id), PNG-encoded in-JVM, format-sniffed from
    // the magic bytes, then decoded back through the bounded
    // javax.imageio path (header dims + raster channel means). The
    // oracle replays the id arithmetic alone — every decoded value is
    // deterministic, so the hash gate proves the decoder actually ran
    // and read the pixels it claims.
    "q61_image_decode" -> QueryDef(
      (s, d) => {
        val media = graft.operators.Multimodal
          .renderSyntheticPngs(tbl(s, d, "documents"), "doc_id")
          // re-sniff from the payload bytes (exercises the real
          // magic-number path rather than trusting the renderer)
          .withColumn("format", graft.operators.Multimodal.sniffFormat(col("payload")))
        graft.operators.Multimodal.decodeImages(media)
          .select(col("media_id"), col("format"), col("width"), col("height"),
            col("channels"), col("mean_r"), col("mean_g"), col("mean_b"),
            col("error"))
      },
      Some("""SELECT doc_id AS media_id, 'png' AS format,
             |CAST(4 + doc_id % 61 AS INT) AS width,
             |CAST(4 + doc_id % 37 AS INT) AS height,
             |CAST(3 AS INT) AS channels,
             |CAST(doc_id * 7 % 256 AS DOUBLE) AS mean_r,
             |CAST(doc_id * 13 % 256 AS DOUBLE) AS mean_g,
             |CAST(doc_id * 31 % 256 AS DOUBLE) AS mean_b,
             |CAST(NULL AS VARCHAR) AS error
             |FROM documents""".stripMargin)),

    // exact-substring dedup: maximal repeated >=W-token spans across
    // the corpus (SubstringDedup scaladoc — verbatim-passage
    // duplication, the suffix-array dedup modality, via fixed-window
    // reduction + gaps-and-islands merge). W=10 here so the synthetic
    // near-dup runs between word substitutions surface; production
    // corpora use ~50. The oracle replays the whole construction on
    // gram STRINGS — the Spark side's md5 gram identity must induce
    // the identical duplicated-window set for spans to hash-match.
    "q62_repeated_spans" -> QueryDef(
      (s, d) => SubstringDedup.repeatedSpans(
        tbl(s, d, "documents"), "doc_id", "text", windowTokens = 10),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 9)) AS i, toks
             |      FROM t WHERE len(toks) >= 10),
             |g2 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             |       array_to_string(toks[i:i+9], ' ') AS gram FROM g),
             |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING COUNT(*) > 1),
             |hits AS (SELECT doc_id, pos FROM g2 WHERE gram IN (SELECT gram FROM dup)),
             |m AS (SELECT doc_id, pos,
             |  CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 10
             |       THEN 1 ELSE 0 END AS is_new
             |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
             |sp AS (SELECT doc_id, pos,
             |  SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
             |  FROM m)
             |SELECT doc_id, min(pos) AS span_start, max(pos) + 10 AS span_end
             |FROM sp GROUP BY doc_id, island""".stripMargin)),

    // frequent-items sketch (heavy hitters): per-language token
    // frequencies through the mergeable Misra-Gries aggregate
    // (FreqFunctions scaladoc). UNLIKE the theta/KLL queries this one
    // carries a full GROUP BY oracle: the vocabulary (≤31 distinct
    // words per language) sits far below the counter budget, so the
    // sketch never purges, every estimate is the exact count, and the
    // threshold set is deterministic — the exact regime is itself the
    // correctness proof that the plumbing (serde, partial merges,
    // threshold query) is faithful. The lossy regime's bounds are
    // FreqSketchSpec's job.
    "q63_freq_terms" -> QueryDef(
      (s, d) => {
        // rebalance before tokenize+explode+partial-sketch: a
        // single-row-group corpus file would run the whole map stage
        // on one core (Dedup.rebalance scaladoc; no-op on multi-split).
        // Keyed on doc_id — lang has ~12 skewed values, useless as a
        // partitioning key; the sketch merges per-lang regardless.
        val toks = Dedup.rebalance(
            tbl(s, d, "documents").select("doc_id", "lang", "text"),
            Seq(col("doc_id")))
          .select(col("lang"),
            explode(TextAnalysis.words(col("text"))).as("word"))
          .where(length(col("word")) > 0)
        toks.groupBy("lang")
          .agg(graft.functions.FreqFunctions
            .freqSketch(col("word")).as("sk"))
          .select(col("lang"), explode(
            graft.functions.FreqFunctions.freqItems(col("sk"), 10L)).as("f"))
          .select(col("lang"), col("f.item").as("word"),
            col("f.estimate").as("n"))
      },
      Some("""WITH w AS (SELECT lang, string_split_regex(text, '\s+') AS ws FROM documents),
             |t AS (SELECT lang, unnest(ws) AS word FROM w)
             |SELECT lang, word, COUNT(*) AS n FROM t WHERE len(word) > 0
             |GROUP BY lang, word HAVING COUNT(*) >= 10""".stripMargin)),

    // REAL audio decode end-to-end, the q61 pattern for sound:
    // deterministic synthetic WAVs (16-bit PCM mono 8 kHz; sample
    // count and values are integer functions of the id), RIFF-sniffed
    // from the bytes, decoded through javax.sound.sampled, RMS over
    // the PCM samples. The oracle replays the id arithmetic: square
    // sums are exact integers in both engines and sqrt/division are
    // correctly-rounded IEEE doubles, so the hash gate proves the
    // decoder read the real samples.
    "q64_audio_decode" -> QueryDef(
      (s, d) => {
        val media = graft.operators.Multimodal
          .renderSyntheticWavs(tbl(s, d, "documents"), "doc_id")
          .withColumn("format", graft.operators.Multimodal.sniffFormat(col("payload")))
        graft.operators.Multimodal.decodeAudio(media)
          .select(col("media_id"), col("format"), col("sample_rate"),
            col("channels"), col("bits"), col("n_samples"), col("rms"),
            col("error"))
      },
      Some("""WITH s AS (SELECT doc_id, 16 + doc_id % 64 AS n FROM documents),
             |g AS (SELECT doc_id, n, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i FROM s),
             |v AS (SELECT doc_id, n, (doc_id * 31 + i * 7) % 2003 - 1001 AS x FROM g)
             |SELECT doc_id AS media_id, 'riff' AS format,
             |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
             |  CAST(16 AS INT) AS bits, CAST(n AS BIGINT) AS n_samples,
             |  sqrt(CAST(SUM(x * x) AS DOUBLE) / n) AS rms,
             |  CAST(NULL AS VARCHAR) AS error
             |FROM v GROUP BY doc_id, n""".stripMargin)),
  )

  private val more3: Seq[(String, QueryDef)] = Seq(
    // REAL video container metadata, the q61/q64 pattern for video:
    // deterministic synthetic AVI/Matroska/MP4 containers (every field
    // an integer function of the id; one residue class ships only the
    // 4 magic bytes), then the bounded chunk/element/box walkers of
    // VideoMeta extract dims/duration/codec — no frame decode, no
    // codec dependency. The oracle replays the id arithmetic, so the
    // hash gate proves the walkers read the real container structure,
    // including the never-throw corrupt contract.
    "q65_video_meta" -> QueryDef(
      (s, d) => {
        val media = graft.operators.VideoMeta
          .renderSyntheticVideos(tbl(s, d, "documents"), "doc_id")
        graft.operators.VideoMeta.parseVideoMeta(media)
      },
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 97 = 0 AND doc_id % 3 = 2 THEN 'unknown'
             |       WHEN doc_id % 3 = 0 THEN 'riff'
             |       WHEN doc_id % 3 = 1 THEN 'matroska'
             |       ELSE 'mp4' END AS format,
             |  CASE WHEN doc_id % 97 = 0 THEN NULL
             |       WHEN doc_id % 3 = 0 THEN 'avi'
             |       WHEN doc_id % 3 = 1 THEN 'matroska'
             |       ELSE 'mp4' END AS container,
             |  CASE WHEN doc_id % 97 = 0 THEN NULL
             |       ELSE CAST(16 + doc_id % 320 AS INT) END AS width,
             |  CASE WHEN doc_id % 97 = 0 THEN NULL
             |       ELSE CAST(9 + doc_id % 240 AS INT) END AS height,
             |  CASE WHEN doc_id % 97 = 0 THEN NULL
             |       ELSE CAST(CASE WHEN doc_id % 3 = 0 THEN (10 + doc_id % 90) * 40
             |                      WHEN doc_id % 3 = 1 THEN 1000 + doc_id % 9000
             |                      ELSE 500 + doc_id % 7500 END AS BIGINT) END AS duration_ms,
             |  CASE WHEN doc_id % 97 = 0 THEN NULL
             |       WHEN doc_id % 3 = 0 THEN 'MJPG'
             |       WHEN doc_id % 3 = 1 THEN 'V_VP9'
             |       ELSE 'avc1' END AS codec,
             |  CASE WHEN doc_id % 97 = 0 THEN
             |         CASE WHEN doc_id % 3 = 2 THEN 'unsupported_container'
             |              ELSE 'truncated' END
             |       ELSE NULL END AS error
             |FROM documents""".stripMargin)),

    // VERIFIED dedup applied end to end: LSH candidates → exact
    // shingle-Jaccard verification (>= 0.5) → spanning-forest
    // reduction (linear output — ConnectedComponents.spanningForest)
    // → components → keep min-id per VERIFIED cluster. The oracle
    // closes over the full thresholded pair set, so the hash match
    // proves labels(forest(verified)) == labels(verified pairs) on
    // real data — the q50 pipeline plus the false-positive filter.
    "q66_verified_dedup" -> QueryDef(
      (s, d) => Dedup.dedupCorpusVerified(
          tbl(s, d, "documents"), "doc_id", "text",
          k = 8, bands = 4, minJaccard = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept")),
      Some {
        val buckets = (0 until 4).map(b =>
          s"(CAST($b AS BIGINT) << 60) | CAST(('0x' || substr(md5(mh${2 * b} || mh${2 * b + 1}), 1, 15)) AS BIGINT)").mkString(", ")
        s"""WITH RECURSIVE w AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS ws FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [text]
           |  ELSE list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS shs FROM w),
           |sd AS (SELECT doc_id, list_distinct(shs) AS s FROM sh),
           |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
           |ab AS (SELECT doc_id, $duckAb FROM ex),
           |mh AS (SELECT doc_id, ${duckMinhash(8)} FROM ab GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest([$buckets]) AS bucket FROM mh),
           |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
           |ver AS (SELECT p.id_a, p.id_b,
           |    len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS ni,
           |    len(sa.s) + len(sb.s) AS nab
           |  FROM pairs p JOIN sd sa ON sa.doc_id = p.id_a JOIN sd sb ON sb.doc_id = p.id_b),
           |vp AS (SELECT id_a, id_b FROM ver WHERE ni >= 0.5 * (nab - ni)),
           |edges AS (SELECT id_a AS u, id_b AS v FROM vp
           |  UNION ALL SELECT id_b, id_a FROM vp),
           |cc(id, x) AS (SELECT doc_id, doc_id FROM documents
           |  UNION SELECT cc.id, e.v FROM cc JOIN edges e ON cc.x = e.u),
           |keep AS (SELECT id AS doc_id FROM cc GROUP BY id HAVING id = min(x))
           |SELECT d.lang, COUNT(*) AS n_kept
           |FROM documents d JOIN keep USING (doc_id) GROUP BY d.lang""".stripMargin
      }),

    // exact per-stratum quotas (balanced training subsets): exactly k
    // docs per language, deterministically chosen by md5 rank — a
    // mergeable bounded-heap aggregation (partitions x strata x k
    // exchange rows), never a per-stratum window sort
    "q67_stratified_quota" -> QueryDef(
      (s, d) => Sampling.stratifiedExactK(
        tbl(s, d, "documents"), "lang", "doc_id", k = 50),
      Some("""SELECT lang, doc_id FROM (
             |  SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rn
             |  FROM documents WHERE doc_id IS NOT NULL)
             |WHERE rn <= 50""".stripMargin)),

    // the same exact quota keyed on a STRING doc key (URL-shaped:
    // source + id) — real corpus ids are urls/content hashes at least
    // as often as longs; the r13 sampler forced a BIGINT cast. String
    // tie order is binary in both engines (UTF8String memcmp ==
    // DuckDB default collation), so the oracle states the identical
    // order. concat (not concat_ws) so a NULL component nulls the key
    // and the null-key drop agrees with SQL || semantics.
    "q68_stratified_quota_str" -> QueryDef(
      (s, d) => Sampling.stratifiedExactK(
        tbl(s, d, "documents").withColumn("doc_key",
          concat(col("source"), lit("-"), col("doc_id").cast("string"))),
        "lang", "doc_key", k = 50),
      Some("""SELECT lang, doc_key FROM (
             |  SELECT lang, source || '-' || CAST(doc_id AS VARCHAR) AS doc_key,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY substr(md5(source || '-' || CAST(doc_id AS VARCHAR)), 1, 13),
             |               source || '-' || CAST(doc_id AS VARCHAR)) AS rn
             |  FROM documents
             |  WHERE source || '-' || CAST(doc_id AS VARCHAR) IS NOT NULL)
             |WHERE rn <= 50""".stripMargin)),

    // WEIGHTED exact quotas (probability ∝ n_chars, exactly k per
    // language): Efraimidis–Spirakis exponential race on the md5
    // coin — race key -ln(u)/w, k smallest win, stated identically
    // in DuckDB. Adjacent u values are ≥2⁻³² apart so a 1-ulp libm
    // ln() disagreement (~2⁻⁵² relative) cannot reorder them; exact
    // u collisions tie-break by key in both engines. Same mergeable
    // bounded-heap plan as q67: partitions × strata × k exchange
    // rows, corpus-size-independent.
    "q69_weighted_quota" -> QueryDef(
      (s, d) => Sampling.stratifiedWeightedK(
        tbl(s, d, "documents"), "lang", "doc_id", "n_chars", k = 50),
      Some("""SELECT lang, doc_id FROM (
             |  SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY -ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |                   / 4294967296.0) / CAST(n_chars AS DOUBLE),
             |               doc_id) AS rn
             |  FROM documents
             |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0)
             |WHERE rn <= 50""".stripMargin)),

    // the CHUNKED over-gate ANN regime (r14): a deliberately tiny
    // embedded gate forces ceil(probes/7) disjoint probe chunks, one
    // graft_probe_topk kernel per chunk over the corpus, unioned —
    // the shape that replaces the CartesianProduct join fallback
    // (Similarity.bruteForceTopK scaladoc; measured at sf10 in
    // BENCHNOTES_r14). Results are probe-partitioned, so the oracle
    // is exactly q25's cosine replay — the hash gate pins chunked ==
    // single-kernel cross-engine.
    // The probe set is BOUNDED (vec_id < 400), not corpus-proportional:
    // the tiny forced gate means chunk count = ceil(probes/7), and a
    // %-only filter would grow it with the corpus (1429 corpus scans
    // at sf10). 20 probes -> 3 chunks at every scale.
    "q70_ann_chunked" -> QueryDef(
      (s, d) => Similarity.bruteForceTopK(
        tbl(s, d, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") % 20 === 0 && col("vec_id") < 400, k = 3,
        maxEmbeddedProbes = 7),
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             |  round(list_cosine_similarity(p.v, c.v), 6) AS sim
             |  FROM e p, e c WHERE p.vec_id % 20 = 0 AND p.vec_id < 400 AND p.vec_id <> c.vec_id),
             |r AS (SELECT probe_id, cand_id, sim,
             |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
             |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 3""".stripMargin)),

    // full-row quota output (r15): the weighted sampler's (stratum,
    // key) selection joined back to the source frame as a BROADCAST
    // left-semi (the quota side is strata × k rows by construction, so
    // the corpus never shuffles). The oracle states the hand-written
    // membership join the wrapper replaces.
    "q71_weighted_quota_rows" -> QueryDef(
      (s, d) => Sampling.stratifiedWeightedKRows(
        tbl(s, d, "documents"), "lang", "doc_id", "n_chars", k = 40),
      Some("""SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
             |FROM documents d
             |JOIN (
             |  SELECT lang, doc_id FROM (
             |    SELECT lang, doc_id,
             |      row_number() OVER (PARTITION BY lang
             |        ORDER BY -ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |                     / 4294967296.0) / CAST(n_chars AS DOUBLE),
             |                 doc_id) AS rn
             |    FROM documents
             |    WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0)
             |  WHERE rn <= 40) q
             |ON d.lang IS NOT DISTINCT FROM q.lang AND d.doc_id = q.doc_id""".stripMargin)),

    // the ROLE-SWAPPED over-cap ANN regime (r15): every embedding row
    // probes a 20-row corpus; probes exceed the forced chunk cap (64)
    // while the corpus fits it, so the whole corpus embeds in ONE
    // graft_corpus_topk projection over the probe scan — no aggregate,
    // no exchange, no joined rows; the forced gate (7) splits nothing
    // here (a projection's chunks would share one stage). This is the
    // regime that retires the CartesianProduct fallback whenever
    // EITHER side fits the collect cap (Similarity.bruteForceTopKFrames
    // scaladoc). The oracle is q70's cosine replay with the roles
    // swapped, so the hash gate pins role-swap == join cross-engine.
    "q72_ann_roleswap" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.bruteForceTopKFrames(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 400),
          "vec_id", "embedding", k = 3,
          maxEmbeddedProbes = 7, maxChunkedProbes = 64)
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             |  round(list_cosine_similarity(p.v, c.v), 6) AS sim
             |  FROM e p, e c WHERE c.vec_id % 20 = 0 AND c.vec_id < 400 AND p.vec_id <> c.vec_id),
             |r AS (SELECT probe_id, cand_id, sim,
             |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
             |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 3""".stripMargin)),

    // role-swapped near-dup (r15): every embedding row probes the same
    // 20-row corpus above the forced cap — ONE reversed
    // graft_probe_matches kernel (emitGreater: candidates ABOVE the
    // probe id, the q24 pair contract from the other side) over the
    // probe scan; no join, no union, no merge aggregate. Oracle =
    // q24's cosine predicate with this blocking.
    "q73_neardup_roleswap" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Dedup.embeddingNearDupFrames(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 400),
          "vec_id", "embedding", threshold = 0.15,
          maxEmbeddedProbes = 7, maxChunkedProbes = 64)
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
             |SELECT p.vec_id AS probe_id, c.vec_id AS cand_id FROM e p, e c
             |WHERE c.vec_id % 20 = 0 AND c.vec_id < 400 AND p.vec_id < c.vec_id
             |AND list_cosine_similarity(p.v, c.v) > 0.15""".stripMargin)),

    // COMPOSITE-strata exact quota (r16): real LLM mixes stratify on
    // (lang, source) PAIRS — the Seq overload routes the pair through
    // the same mergeable bounded heap (the group key is simply wider;
    // exchange stays partitions × strata × k) instead of forcing
    // callers to pre-concat into a collision-prone string key.
    "q76_quota_composite" -> QueryDef(
      (s, d) => Sampling.stratifiedExactK(
        tbl(s, d, "documents"), Seq("lang", "source"), "doc_id", k = 20),
      Some("""SELECT lang, source, doc_id FROM (
             |  SELECT lang, source, doc_id,
             |    row_number() OVER (PARTITION BY lang, source
             |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rn
             |  FROM documents WHERE doc_id IS NOT NULL)
             |WHERE rn <= 20""".stripMargin)),

    // CHUNKED over-gate LSH (r16): the tiny forced gate splits the 20
    // bounded probes into 3 disjoint chunks, each running its own
    // graft_probe_topk kernel with a CHUNK-LOCAL signature index over
    // the corpus — probes partition across chunks, so the union IS the
    // single-kernel answer (the q70 argument with the LSH restriction
    // inside the kernel). Replaces the bucket equi-join the r15 shape
    // dropped to immediately above the 2^16 gate (its ~µs/pair row
    // plumbing, measured r11). Oracle = q26's replayed hyperplanes
    // with the bounded probe filter.
    "q74_ann_lsh_chunked" -> QueryDef(
      (s, d) => Similarity.lshTopK(
        tbl(s, d, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") % 20 === 0 && col("vec_id") < 400,
        k = 5, planes = 8, maxEmbeddedProbes = 7),
      Some {
        val dims = 64
        def planeDot(p: Int): String =
          (0 until dims).map { i =>
            s"v[${i + 1}]*(${Similarity.planeComponent(p, i)})"
          }.mkString(" + ")
        val sigExpr = (0 until 8).map { p =>
          s"(CASE WHEN (${planeDot(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |sg AS (SELECT vec_id, v, CAST($sigExpr AS BIGINT) AS sig FROM e),
           |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           |  round(list_cosine_similarity(p.v, c.v), 6) AS sim
           |  FROM sg p JOIN sg c USING (sig)
           |  WHERE p.vec_id % 20 = 0 AND p.vec_id < 400 AND p.vec_id <> c.vec_id),
           |r AS (SELECT probe_id, cand_id, sim,
           |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
           |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 5""".stripMargin
      }),

    // CHUNKED over-gate IVF (r16): same forcing as q74 — 3 disjoint
    // probe chunks, each with its chunk-local inverted-list index
    // inside the kernel; union = single-kernel answer. Oracle = q35's
    // quantizer replay with the bounded probe filter.
    "q75_ann_ivf_chunked" -> QueryDef(
      (s, d) => Similarity.ivfTopK(
        tbl(s, d, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") % 20 === 0 && col("vec_id") < 400,
        k = 5, maxEmbeddedProbes = 7),
      Some {
        val dot = (1 to 64).map(i => s"e.v[$i] * cent.cv[$i]").mkString(" + ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, v AS cv
           |  FROM e ORDER BY vec_id LIMIT 16),
           |dots AS (SELECT e.vec_id, cent.cid, ($dot) AS dot FROM e, cent),
           |ranked AS (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn FROM dots),
           |corpus AS (SELECT vec_id AS cand_id, cid AS list_id FROM ranked WHERE rn = 1),
           |probes AS (SELECT vec_id AS probe_id, cid AS list_id FROM ranked
           |  WHERE rn <= 4 AND vec_id % 20 = 0 AND vec_id < 400),
           |s AS (SELECT p.probe_id, c.cand_id,
           |  round(list_cosine_similarity(pe.v, ce.v), 6) AS sim
           |  FROM probes p JOIN corpus c USING (list_id)
           |  JOIN e pe ON pe.vec_id = p.probe_id
           |  JOIN e ce ON ce.vec_id = c.cand_id
           |  WHERE p.probe_id <> c.cand_id),
           |r AS (SELECT probe_id, cand_id, sim,
           |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
           |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 5""".stripMargin
      }),

    // CROSS-CORPUS all-pairs near-dup (r16, decontamination shape):
    // probes and corpus are DISTINCT frames, so the single-frame
    // `probe_id < cand_id` contract would silently discard every
    // match whose corpus id sorts at/below the probe id — allPairs
    // emits them all (id collisions included; the probe set here is a
    // corpus subset, so the collision row scores cosine 1 and passes,
    // exactly what the SQL states).
    "q77_neardup_allpairs" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Dedup.embeddingNearDupFrames(
          emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 400),
          "vec_id", "embedding",
          emb, "vec_id", "embedding", threshold = 0.15,
          allPairs = true)
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
             |SELECT p.vec_id AS probe_id, c.vec_id AS cand_id FROM e p, e c
             |WHERE p.vec_id % 20 = 0 AND p.vec_id < 400
             |AND list_cosine_similarity(p.v, c.v) > 0.15""".stripMargin)),

    // includeSelf top-k through the ROLE-SWAPPED regime (r16): q72's
    // one-projection corpus embedding, with id collisions scored
    // (cross-corpus id spaces make the self-pair exclusion wrong; here
    // the collision is a true self-pair and ranks first at sim 1 —
    // the SQL states the same, pinning the contract cross-engine).
    "q78_ann_allpairs" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.bruteForceTopKFrames(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 400),
          "vec_id", "embedding", k = 3,
          maxEmbeddedProbes = 7, maxChunkedProbes = 64, includeSelf = true)
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             |  round(list_cosine_similarity(p.v, c.v), 6) AS sim
             |  FROM e p, e c WHERE c.vec_id % 20 = 0 AND c.vec_id < 400),
             |r AS (SELECT probe_id, cand_id, sim,
             |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
             |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 3""".stripMargin)),

    // BYTE-governed regime decision (r17): with the default row caps,
    // a 16 KB collect budget at 64-dim embeddings caps every matrix at
    // 16384/552 = 29 rows (552 exact bytes per (id, 64-double) row) —
    // the probes (the whole table) exceed it,
    // the ≤20-row corpus fits at every local sf, so the BYTE budget
    // (not the row caps the caller left at defaults) routes the call
    // through role swap. The corpus filter clamps at vec_id < 2000 so
    // the corpus stays ≤ 20 rows at EVERY sf (the probe side grows
    // with the table — the regime routing is identical from sf0.001
    // to sf10). The hash gate pins the byte path's RESULTS
    // cross-engine, not just its transfer bound (the r16 spec checked
    // only the latter).
    "q79_ann_byte_regime" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.bruteForceTopKFrames(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") % 100 === 0 && col("vec_id") < 2000),
          "vec_id", "embedding", k = 3,
          maxCollectBytes = 16384L)
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             |  round(list_cosine_similarity(p.v, c.v), 6) AS sim
             |  FROM e p, e c WHERE c.vec_id % 100 = 0 AND c.vec_id < 2000 AND p.vec_id <> c.vec_id),
             |r AS (SELECT probe_id, cand_id, sim,
             |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
             |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 3""".stripMargin)),

    // CROSS-CORPUS chunked LSH (r17): q74's forcing over two DISTINCT
    // frames — the decontamination shape the single-frame probeFilter
    // could not express (the r16 fail-fast message promised the
    // restricted indexes at scale, but they only took one frame). 20
    // probes over a disjoint 250-row corpus, forced gate 7 → 3 chunks,
    // each with its chunk-local signature index inside the kernel.
    "q80_ann_lsh_frames" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.lshTopKFrames(
          emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 400),
          "vec_id", "embedding",
          emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
          k = 5, planes = 8, maxEmbeddedProbes = 7)
      },
      Some {
        val dims = 64
        def planeDot(p: Int): String =
          (0 until dims).map { i =>
            s"v[${i + 1}]*(${Similarity.planeComponent(p, i)})"
          }.mkString(" + ")
        val sigExpr = (0 until 8).map { p =>
          s"(CASE WHEN (${planeDot(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |sg AS (SELECT vec_id, v, CAST($sigExpr AS BIGINT) AS sig FROM e),
           |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           |  round(list_cosine_similarity(p.v, c.v), 6) AS sim
           |  FROM sg p JOIN sg c USING (sig)
           |  WHERE p.vec_id % 20 = 0 AND p.vec_id < 400 AND c.vec_id % 2 = 1),
           |r AS (SELECT probe_id, cand_id, sim,
           |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
           |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 5""".stripMargin
      }),

    // Over-cap cross-corpus LSH through the bucket equi-join (r17):
    // both caps forced to 1, so the frames route through the join
    // regime — the genuine 100 TB path, not the gate=0 spec seam.
    // With 2^4 = 16 signature keys, sessions whose shuffle
    // parallelism exceeds the key count (Bench's 32 partitions) get
    // the AUTO bucket salt (AnnBucketSaltKey: ceil(partitions/keys));
    // sessions at or below it (Verify's 4) correctly skip it. The
    // hash gate pins that the salt factor changes NOTHING about the
    // results — only the join's key space.
    "q81_ann_lsh_frames_join" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.lshTopKFrames(
          emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 400),
          "vec_id", "embedding",
          emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
          k = 5, planes = 4, maxEmbeddedProbes = 1, maxChunkedProbes = 1)
      },
      Some {
        val dims = 64
        def planeDot(p: Int): String =
          (0 until dims).map { i =>
            s"v[${i + 1}]*(${Similarity.planeComponent(p, i)})"
          }.mkString(" + ")
        val sigExpr = (0 until 4).map { p =>
          s"(CASE WHEN (${planeDot(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |sg AS (SELECT vec_id, v, CAST($sigExpr AS BIGINT) AS sig FROM e),
           |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           |  round(list_cosine_similarity(p.v, c.v), 6) AS sim
           |  FROM sg p JOIN sg c USING (sig)
           |  WHERE p.vec_id % 20 = 0 AND p.vec_id < 400 AND c.vec_id % 2 = 1),
           |r AS (SELECT probe_id, cand_id, sim,
           |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
           |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 5""".stripMargin
      }),

    // CROSS-CORPUS chunked IVF (r17): q75's forcing over two distinct
    // frames — the coarse quantizer seeds from the CORPUS frame (first
    // 16 odd vec_ids), corpus rows land in their nearest list, each of
    // the 3 probe chunks carries its chunk-local inverted list inside
    // the kernel.
    "q82_ann_ivf_frames" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        Similarity.ivfTopKFrames(
          emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 400),
          "vec_id", "embedding",
          emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
          k = 5, nCentroids = 16, nProbe = 4, maxEmbeddedProbes = 7)
      },
      Some {
        val dot = (1 to 64).map(i => s"e.v[$i] * cent.cv[$i]").mkString(" + ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, v AS cv
           |  FROM e WHERE vec_id % 2 = 1 ORDER BY vec_id LIMIT 16),
           |dots AS (SELECT e.vec_id, cent.cid, ($dot) AS dot FROM e, cent),
           |ranked AS (SELECT vec_id, cid,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn FROM dots),
           |corpus AS (SELECT vec_id AS cand_id, cid AS list_id FROM ranked
           |  WHERE rn = 1 AND vec_id % 2 = 1),
           |probes AS (SELECT vec_id AS probe_id, cid AS list_id FROM ranked
           |  WHERE rn <= 4 AND vec_id % 20 = 0 AND vec_id < 400),
           |s AS (SELECT DISTINCT p.probe_id, c.cand_id,
           |  round(list_cosine_similarity(pe.v, ce.v), 6) AS sim
           |  FROM probes p JOIN corpus c USING (list_id)
           |  JOIN e pe ON pe.vec_id = p.probe_id
           |  JOIN e ce ON ce.vec_id = c.cand_id),
           |r AS (SELECT probe_id, cand_id, sim,
           |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM s)
           |SELECT probe_id, rank, cand_id, sim FROM r WHERE rank <= 5""".stripMargin
      }),
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (all ++ more ++ more2 ++ more3).map { case (n, q) => n -> q.impl }.toMap

  def oracleSql: Map[String, String] =
    (all ++ more ++ more2 ++ more3).flatMap { case (n, q) => q.oracle.map(n -> _) }.toMap
}
