package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.pipeline.{CorpusOps, Exec}

/** Relational operator coverage (SURVEY.md §2.D): the full query surface
  * the reference inherits from its host engine, expressed with the
  * DataFrame API so Catalyst plans it (pushdown, broadcast, AQE), and
  * oracle-checked against DuckDB over the driver's TPC-H-ish testdata.
  *
  * Numeric discipline: monetary doubles are cast to DECIMAL before
  * aggregation on BOTH sides so sums are exact and independent of
  * partial-aggregation order (double summation order differs between a
  * 32-way Spark partial agg and DuckDB, which would flip low bits and
  * break hash equality at any scale factor).
  *
  * Emission discipline (round-2 driver-gate lesson): the final SELECT
  * casts every DECIMAL column to DOUBLE on BOTH sides. The driver's
  * hasher reads the Spark parquet via pandas (DECIMAL -> Decimal objects,
  * which stringify with trailing zeros: "253942.00") but the oracle via
  * duckdb's pandas bridge (DECIMAL -> float64: "253942.0"), so any exact
  * decimal whose last scale digit is 0 hash-mismatches even though the
  * values are equal. Casting the exact decimal result to DOUBLE at the
  * very end is deterministic (IEEE nearest on both engines, sums still
  * computed exactly in decimal) and renders identically.
  *
  * Every query ends in a deterministic ORDER BY over a unique key set so
  * row order is stable; nullable sort keys say NULLS FIRST explicitly in
  * the oracle because DuckDB's ASC default (NULLS LAST) differs from
  * Spark's (nulls first).
  *
  * Scale notes (100 TB): all joins here are either broadcast (dims) or
  * shuffle-on-key with partial aggregation pushed below the shuffle;
  * none materializes an unbounded intermediate on the driver.
  */
object Relational {
  import Q.t

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Final-emission cast: exact decimal -> DOUBLE (see emission discipline). */
  private def fin(c: Column): Column = c.cast("double")
  private def d18(c: Column): Column = c.cast(DecimalType(18, 2))
  // Keep sums at their natural scale: a scale-reducing cast would round,
  // and Spark (HALF_UP) vs DuckDB disagree on exact-half values.
  private def d4(c: Column): Column = c.cast(DecimalType(27, 4))
  private def d6(c: Column): Column = c.cast(DecimalType(30, 6))
  private val DEC = "DECIMAL(12,2)"
  private[queries] val DEC_SQL = DEC

  /** events table with ts normalized to TIMESTAMP — schema-adaptive
    * (the driver has shipped both int64-nanos and timestamp[us]); all
    * dtype branching lives in Q.events/Q.normTs. */
  private def eventsTs(s: SparkSession, dir: String): DataFrame =
    Q.events(s, dir)

  /** Click events as (chrom, s, e) intervals — shared input of the
    * interval merge, window and flank entries. */
  private def clickIntervals(s: SparkSession, dir: String): DataFrame =
    eventsTs(s, dir).where(col("event_type") === "click")
      .selectExpr("user_id % 16 AS chrom", "unix_micros(ts) div 1000000 AS s")
      .withColumn("e", col("s") + 1800)

  private[graft] def summarizeRegions(regions: DataFrame): DataFrame =
    regions.groupBy("chrom")
      .agg(count(lit(1)).as("n_regions"),
        sum(col("region_end") - col("region_start")).as("covered_span"),
        max(col("n_intervals")).as("max_cluster"))
      .orderBy("chrom")

  private val MergeOracleSql =
    """WITH iv AS (SELECT user_id % 16 AS chrom,
          epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 + 1800 AS e
        FROM events WHERE event_type = 'click'),
      f AS (SELECT chrom, s, e,
          CASE WHEN s > coalesce(max(e) OVER (PARTITION BY chrom ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808)
            THEN 1 ELSE 0 END AS opens
        FROM iv),
      g AS (SELECT chrom, s, e,
          sum(opens) OVER (PARTITION BY chrom ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM f),
      r AS (SELECT chrom, grp, min(s) AS region_start, max(e) AS region_end,
          count(*) AS n_intervals
        FROM g GROUP BY chrom, grp)
      SELECT chrom, count(*) AS n_regions,
        CAST(sum(region_end - region_start) AS BIGINT) AS covered_span,
        CAST(max(n_intervals) AS BIGINT) AS max_cluster
      FROM r GROUP BY chrom ORDER BY chrom"""

  val qs: Map[String, Q] = Map(
    // ---- LATERAL correlated subquery (per-customer top-2 orders) ----
    // Exercises Catalyst's DecorrelateInnerQuery path for a correlated
    // LIMIT subquery — planned as a ranked window join, never a
    // per-outer-row re-execution. Ties broken by o_orderkey so the
    // top-2 cut is engine-independent.
    "rel_lateral_topn" -> Q(
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("g_customer")
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        s.sql("""
          SELECT c.c_custkey, t.o_orderkey, t.o_total
          FROM g_customer c,
          LATERAL (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_total
                   FROM g_orders o WHERE o.o_custkey = c.c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          WHERE c.c_custkey < 50
          ORDER BY c.c_custkey, o_total DESC, t.o_orderkey""")
      },
      Some("""SELECT c.c_custkey, t.o_orderkey, t.o_total
        FROM customer c,
        LATERAL (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_total
                 FROM orders o WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey < 50
        ORDER BY c.c_custkey, o_total DESC, t.o_orderkey""")),

    // ---- bucketed co-located join: pay the shuffle once, at write ----
    // THE 100 TB join technique the other rel_* entries don't show: both
    // tables are written bucketed (and sorted) by the join key, so every
    // subsequent join/aggregation on that key is EXCHANGE-FREE — the
    // scan's HashPartitioning(custkey, 8) satisfies the join's and the
    // group-by's distribution directly. At scale this turns the nightly
    // fact-to-fact join from the dominant shuffle into a local merge.
    // repartition(8, key) before the write uses the same murmur3-pmod
    // hash as the bucket spec, so each bucket lands as ONE file and the
    // sorted-scan stays valid (no per-task Sort either). The merge hint
    // keeps the small gate-scale dimension from being broadcast, which
    // would hide the property being demonstrated; plan-gated: zero
    // Exchange below the SortMergeJoin.
    "rel_bucketed_join" -> Q(
      (s, dir) => {
        def bucketed(df: DataFrame, key: String, table: String): DataFrame = {
          // a fresh in-memory catalog + a persistent warehouse dir means
          // overwrite mode alone can hit LOCATION_ALREADY_EXISTS from a
          // previous session's files — clear both catalog and location
          s.sql(s"DROP TABLE IF EXISTS $table")
          val loc = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), table)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(loc)) fs.delete(loc, true)
          df.repartition(8, col(key)).write.mode("overwrite")
            .bucketBy(8, key).sortBy(key).format("parquet").saveAsTable(table)
          s.table(table)
        }
        val cust = bucketed(t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
          "c_custkey", "g_buck_customer")
        val ord = bucketed(t(s, dir, "orders").select("o_custkey", "o_totalprice"),
          "o_custkey", "g_buck_orders")
        ord.hint("merge").join(cust, col("o_custkey") === col("c_custkey"))
          .where(col("c_custkey") < 200)
          .groupBy("c_custkey", "c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            fin(d18(sum(dec(col("o_totalprice"))))).as("total_spend"))
          .orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey, c_mktsegment, count(*) AS n_orders,
          CAST(CAST(sum(CAST(o_totalprice AS $DEC)) AS DECIMAL(18,2)) AS DOUBLE) AS total_spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_custkey < 200
        GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""")),

    // ---- full-scan aggregation with filter pushdown (TPC-H Q1 shape) ----
    "rel_agg_pricing" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(li("l_shipdate") <= lit("1998-09-02 00:00:00"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            fin(d18(sum(dec(col("l_quantity"))))).as("sum_qty"),
            fin(d18(sum(dec(col("l_extendedprice"))))).as("sum_base_price"),
            fin(d4(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))).as("sum_disc_price"),
            fin(d6(sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast(DecimalType(18, 4)) * (lit(1) + dec(col("l_tax")))))).as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        CAST(CAST(sum(CAST(l_quantity AS $DEC)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        CAST(CAST(sum(CAST(l_extendedprice AS $DEC)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
        CAST(CAST(sum(CAST(l_extendedprice AS $DEC) * (1 - CAST(l_discount AS $DEC))) AS DECIMAL(27,4)) AS DOUBLE) AS sum_disc_price,
        CAST(CAST(sum(CAST(CAST(l_extendedprice AS $DEC) * (1 - CAST(l_discount AS $DEC)) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS $DEC))) AS DECIMAL(30,6)) AS DOUBLE) AS sum_charge,
        count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // ---- 5-way star join, dims broadcast (TPC-H Q5 shape) ----
    "rel_join_star_revenue" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o  = t(s, dir, "orders")
        val c  = t(s, dir, "customer")
        val n  = t(s, dir, "nation")
        val r  = t(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .where(r("r_name") === "ASIA")
          .groupBy("n_name")
          .agg(
            fin(d4(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some(s"""SELECT n_name,
        CAST(CAST(sum(CAST(l_extendedprice AS $DEC) * (1 - CAST(l_discount AS $DEC))) AS DECIMAL(27,4)) AS DOUBLE) AS revenue,
        count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name""")),

    // ---- window functions: ranking + running frame ----
    "rel_window_topk_per_cust" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        o.select(
            col("o_custkey"), col("o_orderkey"),
            fin(dec(col("o_totalprice"))).as("price"),
            row_number().over(w).as("rn"),
            fin(d18(sum(dec(col("o_totalprice")))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))).as("running_total"))
          .where(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some(s"""SELECT * FROM (
        SELECT o_custkey, o_orderkey, CAST(CAST(o_totalprice AS $DEC) AS DOUBLE) AS price,
          row_number() OVER w AS rn,
          CAST(CAST(sum(CAST(o_totalprice AS $DEC)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS running_total
        FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
        ) WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // ---- range-frame window (rolling 30 days) + lag analytics ----
    "rel_window_range" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            datediff(col("o_orderdate"), lit("1995-01-01")).as("day"),
            dec(col("o_totalprice")).as("price"))
        val wRange = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
          .rangeBetween(-30, Window.currentRow)
        val wRows = Window.partitionBy(col("o_custkey"))
          .orderBy(col("day").asc, col("o_orderkey").asc)
        o.select(col("o_custkey"), col("o_orderkey"), col("day"),
            count(lit(1)).over(wRange).as("n_30d"),
            fin(d18(sum(col("price")).over(wRange))).as("sum_30d"),
            lag(col("o_orderkey"), 1).over(wRows).as("prev_order"),
            lead(col("o_orderkey"), 1).over(wRows).as("next_order"))
          .where(col("o_custkey") < 300)
          .orderBy("o_custkey", "day", "o_orderkey")
      },
      Some(s"""SELECT o_custkey, o_orderkey, day,
          count(*) OVER wr AS n_30d,
          CAST(CAST(sum(price) OVER wr AS DECIMAL(18,2)) AS DOUBLE) AS sum_30d,
          lag(o_orderkey, 1) OVER wo AS prev_order,
          lead(o_orderkey, 1) OVER wo AS next_order
        FROM (SELECT o_custkey, o_orderkey,
                datediff('day', DATE '1995-01-01', o_orderdate) AS day,
                CAST(o_totalprice AS $DEC) AS price
              FROM orders)
        WHERE o_custkey < 300
        WINDOW wr AS (PARTITION BY o_custkey ORDER BY day
                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW),
               wo AS (PARTITION BY o_custkey ORDER BY day ASC, o_orderkey ASC)
        ORDER BY o_custkey, day, o_orderkey""")),

    // ---- left-semi join (EXISTS) ----
    "rel_semi_join" -> Q(
      (s, dir) => {
        val o  = t(s, dir, "orders")
        val li = t(s, dir, "lineitem").where(col("l_quantity") > 45)
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- left-anti join (NOT EXISTS) ----
    "rel_anti_join" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_no_orders"))
      },
      Some("""SELECT count(*) AS n_no_orders FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),

    // ---- rollup grouping sets ----
    "rel_rollup" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), fin(d18(sum(dec(col("l_quantity"))))).as("qty"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(CAST(sum(CAST(l_quantity AS $DEC)) AS DECIMAL(18,2)) AS DOUBLE) AS qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // ---- cube grouping sets ----
    "rel_cube" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // ---- set operators ----
    "rel_setops" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val withOrders = o.select(col("o_custkey").as("custkey")).distinct()
        val richCust   = c.where(col("c_acctbal") > 3000).select(col("c_custkey").as("custkey"))
        val both    = withOrders.intersect(richCust).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
        val onlyRich = richCust.except(withOrders).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
        val all     = withOrders.union(richCust).agg(count(lit(1)).as("n")).withColumn("op", lit("union_all"))
        val allOrders = o.select(col("o_custkey").as("custkey"))
        val interAll = allOrders.intersectAll(richCust).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
        val exceptAll = allOrders.exceptAll(richCust).agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
        both.union(onlyRich).union(all).union(interAll).union(exceptAll)
          .select("op", "n").orderBy("op")
      },
      Some("""WITH wo AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
        ao AS (SELECT o_custkey AS custkey FROM orders),
        rc AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 3000)
        SELECT 'intersect' AS op, count(*) AS n FROM (SELECT custkey FROM wo INTERSECT SELECT custkey FROM rc)
        UNION ALL SELECT 'except', count(*) FROM (SELECT custkey FROM rc EXCEPT SELECT custkey FROM wo)
        UNION ALL SELECT 'union_all', count(*) FROM (SELECT custkey FROM wo UNION ALL SELECT custkey FROM rc)
        UNION ALL SELECT 'intersect_all', count(*) FROM (SELECT custkey FROM ao INTERSECT ALL SELECT custkey FROM rc)
        UNION ALL SELECT 'except_all', count(*) FROM (SELECT custkey FROM ao EXCEPT ALL SELECT custkey FROM rc)
        ORDER BY op""")),

    // ---- peer-based ranking functions (ties deterministic) ----
    "rel_window_ranks" -> Q(
      (s, dir) => {
        val w = Window.orderBy(col("l_quantity").asc)
        t(s, dir, "lineitem")
          .select(col("l_quantity"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            round(percent_rank().over(w), 6).as("prnk"),
            round(cume_dist().over(w), 6).as("cd"))
          .distinct()
          .orderBy("l_quantity")
      },
      Some("""SELECT DISTINCT l_quantity,
          rank() OVER w AS rnk,
          dense_rank() OVER w AS drnk,
          round(percent_rank() OVER w, 6) AS prnk,
          round(cume_dist() OVER w, 6) AS cd
        FROM lineitem WINDOW w AS (ORDER BY l_quantity ASC)
        ORDER BY l_quantity""")),

    // ---- theta/range join (equi key + interval predicate) ----
    "rel_range_join" -> Q(
      (s, dir) => {
        val o  = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        o.join(li,
            li("l_orderkey") === o("o_orderkey") &&
            li("l_shipdate") >= o("o_orderdate") &&
            li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 30 DAYS"))
          .agg(count(lit(1)).as("n_within_30d"))
      },
      Some("""SELECT count(*) AS n_within_30d FROM orders JOIN lineitem
        ON l_orderkey = o_orderkey
        AND l_shipdate >= o_orderdate
        AND l_shipdate <= o_orderdate + INTERVAL 30 DAY""")),

    // ---- bin-keyed interval overlap join (the genomics overlap shape) ----
    // rel_range_join above has an equi key (orderkey), so Catalyst plans a
    // keyed join. THIS is the other case: interval overlap where the only
    // equi attribute (chrom) has few values and huge groups — bedtools-
    // intersect over chromosomes, the reference's native domain. A naive
    // per-chrom join degenerates to per-group O(n*m); the scalable shape
    // explodes each interval into fixed-width bins (W=4096 s, ~2 bins per
    // interval) and equi-joins on (chrom, bin) — candidate pairs are only
    // those sharing a bin. Each overlapping pair is counted exactly once
    // WITHOUT a distinct: it is credited to the bin containing the
    // overlap's start, greatest(a_s, b_s) div W — a bin both sides
    // provably generated (the overlap start lies inside both intervals).
    // Shuffle is keyed by (chrom, bin): fine-grained, skew-splittable by
    // AQE; no BroadcastNestedLoopJoin anywhere (gated in PlanQualitySpec).
    "rel_interval_bin_join" -> Q(
      (s, dir) => {
        val W = 4096L
        val ev = eventsTs(s, dir)
        def side(et: String, len: Int, p: String) = ev
          .where(col("event_type") === et)
          .selectExpr(s"event_id AS ${p}_id", "user_id % 16 AS chrom",
            s"unix_micros(ts) div 1000000 AS ${p}_s")
          .withColumn(s"${p}_e", col(s"${p}_s") + len)
          .withColumn("bin", explode(expr(s"sequence(${p}_s div $W, ${p}_e div $W)")))
        side("click", 3600, "a")
          .join(side("view", 2700, "b"), Seq("chrom", "bin"))
          .where(col("a_s") <= col("b_e") && col("b_s") <= col("a_e") &&
            col("bin") === expr(s"greatest(a_s, b_s) div $W"))
          .groupBy("chrom")
          .agg(count(lit(1)).as("n_overlaps"),
            sum(col("a_id") + col("b_id")).as("pair_checksum"))
          .orderBy("chrom")
      },
      Some("""WITH a AS (SELECT event_id AS a_id, user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS a_s, epoch_us(ts) // 1000000 + 3600 AS a_e
          FROM events WHERE event_type = 'click'),
        b AS (SELECT event_id AS b_id, user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS b_s, epoch_us(ts) // 1000000 + 2700 AS b_e
          FROM events WHERE event_type = 'view')
        SELECT a.chrom AS chrom, count(*) AS n_overlaps,
          CAST(sum(a_id + b_id) AS BIGINT) AS pair_checksum
        FROM a JOIN b ON a.chrom = b.chrom AND a_s <= b_e AND b_s <= a_e
        GROUP BY a.chrom ORDER BY chrom""")),

    // ---- reciprocal-overlap interval match (bedtools intersect -r) ----
    // The SV-comparison matching rule: A and B pair only when the
    // overlap covers >= 50% of BOTH intervals — plain overlap calls a
    // 1bp touch between a 10kb and a 100bp feature a "match";
    // reciprocal overlap doesn't. Same bin-keyed equi-join +
    // greatest-start bin-ownership discipline as the bin join; the
    // reciprocal test is integer arithmetic on the pair row (2*ov >=
    // len, no division). The oracle brute-forces the same rule.
    "rel_interval_reciprocal" -> Q(
      (s, dir) => {
        val W = 4096L
        val ev = eventsTs(s, dir)
        def side(et: String, lenExpr: String, p: String) = ev
          .where(col("event_type") === et)
          .selectExpr(s"event_id AS ${p}_id", "user_id % 16 AS chrom",
            s"unix_micros(ts) div 1000000 AS ${p}_s")
          .withColumn(s"${p}_e", col(s"${p}_s") + expr(lenExpr))
          .withColumn("bin", explode(expr(s"sequence(${p}_s div $W, ${p}_e div $W)")))
        side("click", "3600 + a_id % 1200", "a")
          .join(side("view", "2400 + b_id % 1800", "b"), Seq("chrom", "bin"))
          .where(col("a_s") <= col("b_e") && col("b_s") <= col("a_e") &&
            col("bin") === expr(s"greatest(a_s, b_s) div $W"))
          .withColumn("ov",
            expr("least(a_e, b_e) - greatest(a_s, b_s) + 1"))
          .where(expr("2 * ov >= a_e - a_s + 1 AND 2 * ov >= b_e - b_s + 1"))
          .groupBy("chrom")
          .agg(count(lit(1)).as("n_matches"),
            sum(col("ov")).as("ov_bp"),
            sum(col("a_id") + col("b_id")).as("pair_checksum"))
          .orderBy("chrom")
      },
      Some("""WITH a AS (SELECT event_id AS a_id, user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS a_s,
            epoch_us(ts) // 1000000 + 3600 + event_id % 1200 AS a_e
          FROM events WHERE event_type = 'click'),
        b AS (SELECT event_id AS b_id, user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS b_s,
            epoch_us(ts) // 1000000 + 2400 + event_id % 1800 AS b_e
          FROM events WHERE event_type = 'view'),
        p AS (SELECT a.chrom, a_id, b_id,
            least(a_e, b_e) - greatest(a_s, b_s) + 1 AS ov,
            a_e - a_s + 1 AS la, b_e - b_s + 1 AS lb
          FROM a JOIN b ON a.chrom = b.chrom AND a_s <= b_e AND b_s <= a_e)
        SELECT chrom, count(*) AS n_matches,
          CAST(sum(ov) AS BIGINT) AS ov_bp,
          CAST(sum(a_id + b_id) AS BIGINT) AS pair_checksum
        FROM p WHERE 2 * ov >= la AND 2 * ov >= lb
        GROUP BY chrom ORDER BY chrom""")),

    // ---- Gini concentration of revenue (exact, integer) ----
    // The inequality summary a marketplace/corpus dashboard carries:
    // Gini over per-supplier revenue, computed EXACTLY in cents via
    // the sorted-rank formula num = 2*Sigma(r_i * v_i) - (n+1)*Sigma(v),
    // den = n*Sigma(v) (ties contribute identically under any tie
    // order, so row_number is deterministic here without a tie-break
    // column). The rank window runs over the SUPPLIER aggregate — the
    // small dimension — never the fact table; a corpus-sized Gini
    // would switch to the histogram formulation on binned values.
    "rel_gini_concentration" -> Q(
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("v"))
        val w = Window.orderBy(col("v").asc, col("l_suppkey").asc)
        // 1e6 * gini_num overflows int64 at sf0.1 (~8.76e19): the micro
        // quotient runs in DECIMAL(38,0) here and HUGEINT in the oracle
        // (exact at any tier, both truncate the positive quotient the
        // same way); only BIGINT reaches the gate.
        rev.withColumn("r", row_number().over(w).cast("long"))
          .agg(count(lit(1)).as("n_suppliers"), sum(col("v")).as("total_cents"),
            (lit(2L) * sum(expr("CAST(r AS DECIMAL(38,0)) * v"))).as("twice_rank_mass"))
          .selectExpr("n_suppliers", "total_cents",
            """CAST(twice_rank_mass
                 - (CAST(n_suppliers AS DECIMAL(38,0)) + 1) * total_cents
               AS BIGINT) AS gini_num""",
            "CAST(CAST(n_suppliers AS DECIMAL(38,0)) * total_cents AS BIGINT) AS gini_den",
            """CAST((1000000 * (twice_rank_mass
                   - (CAST(n_suppliers AS DECIMAL(38,0)) + 1) * total_cents))
                 div (CAST(n_suppliers AS DECIMAL(38,0)) * total_cents)
               AS BIGINT) AS gini_micro""")
      },
      Some("""WITH rev AS (SELECT l_suppkey,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS v
          FROM lineitem GROUP BY l_suppkey),
        rk AS (SELECT v, row_number() OVER (ORDER BY v ASC, l_suppkey ASC) AS r
          FROM rev),
        a AS (SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS tot,
            2 * sum(CAST(r AS HUGEINT) * v) AS trm FROM rk)
        SELECT n AS n_suppliers, tot AS total_cents,
          CAST(trm - (CAST(n AS HUGEINT) + 1) * tot AS BIGINT) AS gini_num,
          CAST(CAST(n AS HUGEINT) * tot AS BIGINT) AS gini_den,
          CAST(CAST(1000000 AS HUGEINT) * (trm - (CAST(n AS HUGEINT) + 1) * tot)
            // (CAST(n AS HUGEINT) * tot) AS BIGINT) AS gini_micro
        FROM a""")),

    // ---- proximity join with slop (bedtools window -w) ----
    // A pairs with every B within `slop` of it — the "regulatory
    // neighborhood" join (peaks near genes). Same bin-keyed equi-join
    // discipline as rel_interval_bin_join with the A side padded by
    // slop for BOTH binning and the pair condition, and the same
    // greatest-start bin-ownership dedup so a pair straddling bins
    // counts once. Cartesian-free by construction (bin+chrom keys).
    "rel_interval_window_join" -> Q(
      (s, dir) => {
        val W = 4096L
        val slop = 1800L
        val ev = eventsTs(s, dir)
        def side(et: String, len: Int, p: String, pad: Long) = ev
          .where(col("event_type") === et)
          .selectExpr(s"event_id AS ${p}_id", "user_id % 16 AS chrom",
            s"unix_micros(ts) div 1000000 AS ${p}_s")
          .withColumn(s"${p}_e", col(s"${p}_s") + len)
          .withColumn("bin", explode(expr(
            s"sequence(greatest(${p}_s - $pad, 0) div $W, (${p}_e + $pad) div $W)")))
        side("signup", 3600, "a", slop)
          .join(side("purchase", 2700, "b", 0), Seq("chrom", "bin"))
          .where(col("a_s") - lit(slop) <= col("b_e") &&
            col("b_s") <= col("a_e") + lit(slop) &&
            col("bin") === expr(s"greatest(a_s - $slop, b_s) div $W"))
          .groupBy("chrom")
          .agg(count(lit(1)).as("n_near"),
            sum(col("a_id") + col("b_id")).as("pair_checksum"))
          .orderBy("chrom")
      },
      Some(s"""WITH a AS (SELECT event_id AS a_id, user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS a_s, epoch_us(ts) // 1000000 + 3600 AS a_e
          FROM events WHERE event_type = 'signup'),
        b AS (SELECT event_id AS b_id, user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS b_s, epoch_us(ts) // 1000000 + 2700 AS b_e
          FROM events WHERE event_type = 'purchase')
        SELECT a.chrom AS chrom, count(*) AS n_near,
          CAST(sum(a_id + b_id) AS BIGINT) AS pair_checksum
        FROM a JOIN b ON a.chrom = b.chrom
          AND a_s - 1800 <= b_e AND b_s <= a_e + 1800
        GROUP BY a.chrom ORDER BY chrom""")),

    // ---- fixed-width window density (bedtools makewindows + -c) ----
    // Tile each chrom's extent with fixed windows on the absolute grid
    // and report how many grid windows hold at least one interval
    // start — the window-occupancy profile behind "how clumped is this
    // signal". Join-free by design: the extent (min/max window id) and
    // the occupied-window count (distinct agg on the window id) come
    // out of ONE chrom-keyed aggregation, so there is no generated
    // window table to join back — at 100 TB the generate-then-join
    // plan ships every tile through a shuffle, this ships one row per
    // chrom. Window ids are absolute (position div width), matching
    // tabix/CSI bin arithmetic rather than extent-anchored bedtools
    // tiles, so window sets are stable under data growth.
    "rel_interval_makewindows" -> Q(
      (s, dir) => {
        val W = 3600L
        clickIntervals(s, dir)
          .groupBy("chrom")
          .agg(
            min(expr(s"s div $W")).as("lo_w"),
            max(expr(s"(e - 1) div $W")).as("hi_w"),
            countDistinct(expr(s"s div $W")).as("n_active"))
          .select(col("chrom"),
            (col("hi_w") - col("lo_w") + 1).as("n_windows"),
            col("n_active"),
            round(col("n_active") / (col("hi_w") - col("lo_w") + 1), 6)
              .as("density"))
          .orderBy("chrom")
      },
      Some("""WITH iv AS (SELECT user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 + 1800 AS e
          FROM events WHERE event_type = 'click')
        SELECT chrom,
          max((e - 1) // 3600) - min(s // 3600) + 1 AS n_windows,
          count(DISTINCT s // 3600) AS n_active,
          round(CAST(count(DISTINCT s // 3600) AS DOUBLE)
            / (max((e - 1) // 3600) - min(s // 3600) + 1), 6) AS density
        FROM iv GROUP BY chrom ORDER BY chrom""")),

    // ---- weekly retention cohorts (the product-analytics staple) ----
    // Cohort = each user's first active week; the cell (cohort, offset)
    // counts users still active offset weeks later. ONE user-keyed
    // shuffle: the distinct (user, week) activity gets its cohort from
    // a per-user window min (state bounded by one user's weeks), then
    // folds straight into the cohort-cell aggregate — no join of the
    // activity table against a first-seen table, which is the naive
    // two-shuffle-plus-join formulation of the same answer.
    "rel_retention_cohorts" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
        eventsTs(s, dir)
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct()
          .withColumn("cohort", min(col("wk")).over(w))
          .selectExpr("date_format(cohort, 'yyyy-MM-dd') AS cohort_week",
            "datediff(wk, cohort) div 7 AS week_offset")
          .groupBy("cohort_week", "week_offset")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
            FROM events),
          f AS (SELECT user_id, wk,
              min(wk) OVER (PARTITION BY user_id) AS cohort FROM a)
        SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
          date_diff('day', cohort, wk) // 7 AS week_offset,
          count(*) AS n_users
        FROM f GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- gaps-and-islands sessionization (batch) ----
    // The classic window-function pattern: per user, events whose gap
    // from the previous exceeds one hour start a new island; islands
    // are numbered by a running sum of the start flags, then rolled up
    // per user. Time stays in exact integer MICROS end to end
    // (unix_micros here, epoch_us in the oracle) — second-truncating
    // on each side before differencing would floor twice and disagree.
    // Two window passes + one agg, all keyed by user_id: one shuffle.
    "rel_gaps_islands" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        eventsTs(s, dir)
          .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus")
          .withColumn("new_island",
            when(col("tus") - lag(col("tus"), 1).over(w) <= 3600L * 1000000L, 0L)
              .otherwise(1L))
          .withColumn("island", sum(col("new_island")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("island"))
          .agg(count(lit(1)).as("n_events"),
            (max(col("tus")) - min(col("tus"))).as("dur_us"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_islands"),
            max(col("n_events")).as("max_island_events"),
            max(col("dur_us")).as("max_island_dur_us"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        f AS (SELECT user_id, tus,
            CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                 <= 3600::BIGINT * 1000000 THEN 0 ELSE 1 END AS new_island,
            event_id FROM e),
        g AS (SELECT user_id, tus,
            sum(new_island) OVER (PARTITION BY user_id ORDER BY tus, event_id
              ROWS UNBOUNDED PRECEDING) AS island FROM f),
        i AS (SELECT user_id, island, count(*) AS n_events,
            max(tus) - min(tus) AS dur_us FROM g GROUP BY user_id, island)
        SELECT user_id, count(*) AS n_islands,
          CAST(max(n_events) AS BIGINT) AS max_island_events,
          CAST(max(dur_us) AS BIGINT) AS max_island_dur_us
        FROM i GROUP BY user_id ORDER BY user_id""")),

    // ---- market-basket pair mining (co-occurrence + lift) ----
    // Frequent-pair analysis over order baskets: distinct
    // (order, part) pairs self-join WITHIN an order (the fan is
    // basket_size², bounded by the order shape, never the catalog),
    // per-part order frequencies broadcast back, and lift in micro
    // fixed-point from pure counts — lift > 1e6 means the pair
    // co-occurs more than independence predicts. Top-20 with the
    // full deterministic tie-break.
    "rel_market_basket" -> Q(
      (s, dir) => {
        // barrier: FOUR consumers (order count, part frequencies, both
        // self-join sides) — without it each re-runs the corpus scan +
        // the basket-distinct shuffle
        val items = Exec.barrier(t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct())
        val nOrders = items.select(countDistinct(col("ok")).as("n_orders"))
        val partFreq = items.groupBy(col("pk")).agg(count(lit(1)).as("n_ord"))
        val pairs = items.as("x")
          .join(items.as("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .groupBy(col("x.pk").as("p1"), col("y.pk").as("p2"))
          .agg(count(lit(1)).as("n_pair"))
        pairs
          .join(broadcast(partFreq.select(col("pk").as("p1"), col("n_ord").as("n1"))), Seq("p1"))
          .join(broadcast(partFreq.select(col("pk").as("p2"), col("n_ord").as("n2"))), Seq("p2"))
          .crossJoin(broadcast(nOrders))
          .selectExpr("p1", "p2", "n_pair", "n1", "n2",
            "1000000 * n_pair * n_orders div (n1 * n2) AS lift_micro")
          .orderBy(col("n_pair").desc, col("lift_micro").desc,
            col("p1").asc, col("p2").asc)
          .limit(20)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        t AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
        pf AS (SELECT pk, count(*) AS n_ord FROM items GROUP BY pk),
        pr AS (SELECT x.pk AS p1, y.pk AS p2, count(*) AS n_pair
          FROM items x JOIN items y ON x.ok = y.ok AND x.pk < y.pk
          GROUP BY x.pk, y.pk)
        SELECT p1, p2, n_pair,
          CAST(f1.n_ord AS BIGINT) AS n1, CAST(f2.n_ord AS BIGINT) AS n2,
          CAST(1000000 * n_pair * t.n_orders // (f1.n_ord * f2.n_ord) AS BIGINT) AS lift_micro
        FROM pr JOIN pf f1 ON f1.pk = pr.p1 JOIN pf f2 ON f2.pk = pr.p2, t
        ORDER BY n_pair DESC, lift_micro DESC, p1 ASC, p2 ASC LIMIT 20""")),

    // ---- exact rational rank statistics (percent_rank / cume_dist) ----
    // The built-ins return DOUBLES ((rank-1)/(n-1) evaluated in float),
    // which is partition-order-stable but precision-lossy to compare;
    // here both statistics are rebuilt from integer window counts and
    // surfaced in exact micro fixed-point: pr = (rank-1)/(n-1),
    // cd = |{v' <= v}| / n (the RANGE frame counts ties) — the
    // fixed-point discipline applied to window functions.
    "rel_percent_rank" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem").where(col("l_orderkey") < 300)
          .selectExpr("l_orderkey AS ok", "l_linenumber AS ln",
            "l_returnflag AS rf", "cast(l_quantity as bigint) AS q")
        val part = Window.partitionBy("rf")
        val w = part.orderBy("q")
        li.withColumn("rk", rank().over(w))
          .withColumn("n", count(lit(1)).over(part))
          .withColumn("cnt_le", count(lit(1)).over(
            w.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
          .selectExpr("ok", "ln", "rf", "q",
            "CASE WHEN n = 1 THEN 0L " +
              "ELSE 1000000 * cast(rk - 1 as bigint) div (n - 1) END AS pr_micro",
            "1000000 * cnt_le div n AS cd_micro")
          .orderBy("ok", "ln", "rf", "q")
      },
      Some("""WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
            l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS q
          FROM lineitem WHERE l_orderkey < 300),
        w AS (SELECT ok, ln, rf, q,
            rank() OVER (PARTITION BY rf ORDER BY q) AS rk,
            count(*) OVER (PARTITION BY rf) AS n,
            count(*) OVER (PARTITION BY rf ORDER BY q
              RANGE UNBOUNDED PRECEDING) AS cnt_le
          FROM li)
        SELECT ok, ln, rf, q,
          CAST(CASE WHEN n = 1 THEN 0
               ELSE 1000000 * (rk - 1) // (n - 1) END AS BIGINT) AS pr_micro,
          CAST(1000000 * cnt_le // n AS BIGINT) AS cd_micro
        FROM w ORDER BY ok, ln, rf, q""")),

    // ---- top session paths (user-journey mining) ----
    // The "what do sessions look like" sankey feed: sessions by the
    // 1-hour gap rule (the gaps-islands window), each session's first
    // three event types concatenated in time order (array_agg is
    // order-nondeterministic under shuffles — the collect rides a
    // WINDOW over (tus, event_id), which pins it), top-10 paths by
    // (count desc, path asc). Two user-keyed windows + a tiny agg.
    "rel_top_paths" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        val sess = eventsTs(s, dir)
          .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus", "event_type")
          .withColumn("new_s",
            when(col("tus") - lag(col("tus"), 1).over(w) <= 3600L * 1000000L, 0L)
              .otherwise(1L))
          .withColumn("sid", sum(col("new_s")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val ws = Window.partitionBy("user_id", "sid").orderBy("tus", "event_id")
        val paths = sess
          .withColumn("step", row_number().over(ws))
          .where(col("step") <= 3)
          .groupBy(col("user_id"), col("sid"))
          .agg(expr("concat_ws('>', transform(array_sort(" +
            "collect_list(struct(step, event_type))), x -> x.event_type))")
            .as("path"))
        val wr = Window.orderBy(col("n").desc, col("path").asc)
        paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(wr)).where(col("rk") <= 10)
          .select("rk", "path", "n")
          .orderBy("rk")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
          FROM events),
        f AS (SELECT *, CASE WHEN tus - lag(tus) OVER
              (PARTITION BY user_id ORDER BY tus, event_id)
            <= 3600::BIGINT * 1000000 THEN 0 ELSE 1 END AS new_s FROM e),
        g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
            ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f),
        st AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
            ORDER BY tus, event_id) AS step FROM g),
        p AS (SELECT user_id, sid,
            string_agg(event_type, '>' ORDER BY step) AS path
          FROM st WHERE step <= 3 GROUP BY user_id, sid),
        c AS (SELECT path, count(*) AS n FROM p GROUP BY path),
        rk AS (SELECT *, row_number() OVER (ORDER BY n DESC, path ASC) AS rk
          FROM c)
        SELECT CAST(rk AS INTEGER) AS rk, path, n
        FROM rk WHERE rk <= 10 ORDER BY rk""")),

    // ---- decile lift table (the targeting-model report) ----
    // Users ranked by an activity score into deciles (ntile over a
    // FULLY deterministic order — score desc, user_id asc; naked
    // ntile over ties is a run-to-run coin flip), each decile's
    // conversion rate plus CUMULATIVE lift vs the base rate, all in
    // integer micro: lift = (cum_conv/cum_users)/(total_conv/
    // total_users) cross-multiplied, no float division anywhere.
    "rel_decile_lift" -> Q(
      (s, dir) => {
        val users = eventsTs(s, dir)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("score"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("conv"))
        val w = Window.orderBy(col("score").desc, col("user_id").asc)
        val cum = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val d = users.withColumn("decile", ntile(10).over(w))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
        d.withColumn("cum_users", sum(col("n_users")).over(cum))
          .withColumn("cum_conv", sum(col("n_conv")).over(cum))
          .crossJoin(broadcast(d.agg(sum(col("n_users")).as("tu"),
            sum(col("n_conv")).as("tc"))))
          .selectExpr("decile", "n_users", "n_conv",
            "1000000 * n_conv div n_users AS rate_micro",
            "1000000 * cum_conv * tu div (cum_users * tc) AS cum_lift_micro")
          .orderBy("decile")
      },
      Some("""WITH u AS (SELECT user_id, count(*) AS score,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY user_id),
        d AS (SELECT ntile(10) OVER (ORDER BY score DESC, user_id ASC) AS decile,
            conv FROM u),
        g AS (SELECT decile, count(*) AS n_users,
            CAST(sum(conv) AS BIGINT) AS n_conv FROM d GROUP BY decile),
        c AS (SELECT *, sum(n_users) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) AS cum_users,
            sum(n_conv) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) AS cum_conv FROM g),
        tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu,
            CAST(sum(n_conv) AS BIGINT) AS tc FROM g)
        SELECT decile, n_users, n_conv,
          CAST(1000000 * n_conv // n_users AS BIGINT) AS rate_micro,
          CAST(1000000 * cum_conv * tu // (cum_users * tc) AS BIGINT) AS cum_lift_micro
        FROM c, tot ORDER BY decile""")),

    // ---- cumulative distinct users (the growth curve) ----
    // Running "total users ever seen" per day WITHOUT a running
    // count-distinct (state linear in users): each user collapses to
    // their first-seen day (one keyed agg), days aggregate new-user
    // counts, and one ordered window sums the tiny day frame. The
    // standard trick that turns an unbounded-state metric into two
    // bounded aggs.
    "rel_cumulative_users" -> Q(
      (s, dir) => {
        val firstSeen = eventsTs(s, dir)
          .selectExpr("user_id", "date_format(ts, 'yyyy-MM-dd') AS day")
          .groupBy("user_id").agg(min(col("day")).as("day"))
          .groupBy("day").agg(count(lit(1)).as("new_users"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        firstSeen
          .withColumn("total_users", sum(col("new_users")).over(w))
          .orderBy("day")
      },
      Some("""WITH f AS (SELECT user_id,
            min(strftime(ts, '%Y-%m-%d')) AS day FROM events GROUP BY user_id),
        d AS (SELECT day, count(*) AS new_users FROM f GROUP BY day)
        SELECT day, new_users,
          CAST(sum(new_users) OVER (ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS total_users
        FROM d ORDER BY day""")),

    // ---- A/B test rollup (two-proportion summary, exact counts) ----
    // Deterministic hash assignment (user_id parity stands in for the
    // bucketing hash), conversion = the user ever purchased, and the
    // report carries exact integer counts + micro rates — the z-score
    // sqrt is the caller's display math, never state (the same
    // division-at-the-edge discipline as kinship). One user-keyed agg
    // into a 2-row frame.
    "rel_ab_test" -> Q(
      (s, dir) =>
        eventsTs(s, dir)
          .selectExpr("user_id", "event_type")
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
          .selectExpr("user_id % 2 AS variant", "converted")
          .groupBy(col("variant"))
          .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
          .selectExpr("variant", "n_users", "n_conv",
            "1000000 * n_conv div n_users AS rate_micro")
          .orderBy("variant"),
      Some("""WITH u AS (SELECT user_id,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
          FROM events GROUP BY user_id),
        v AS (SELECT user_id % 2 AS variant, converted FROM u)
        SELECT variant, count(*) AS n_users,
          CAST(sum(converted) AS BIGINT) AS n_conv,
          CAST(1000000 * sum(converted) // count(*) AS BIGINT) AS rate_micro
        FROM v GROUP BY variant ORDER BY variant""")),

    // ---- Spearman rank correlation, exact rational ----
    // The monotone-association check (quantity vs revenue per return
    // flag) without a single float: tie-averaged ranks are k or k.5,
    // so DOUBLED ranks are exact BIGINTs (the med2/mad4 trick on
    // ranks), d2 = 2ra - 2rb, and rho = 1 - 6*Σ(d2²/4)/(n(n²-1)) is
    // carried as the exact pair (rho_num, rho_den) with
    // rho = rho_num/rho_den — Σd2² is divisible by nothing in
    // particular, so the pair form avoids both float drift and the
    // div-vs-floor trap on negative rhos. Two rank windows + one
    // grouped reduce, all keyed by the (tiny) flag.
    "rel_spearman" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem").where(col("l_orderkey") < 2000)
          .selectExpr("l_returnflag AS rf",
            "cast(l_quantity as bigint) AS x",
            "cast(round(l_extendedprice * 100) as bigint) AS y")
        def rank2(c: String) = {
          // doubled tie-averaged rank: min_rank + max_rank over the tie
          // group = rank() + (rank() + count(tie) - 1)
          val w = Window.partitionBy("rf").orderBy(c)
          val tie = Window.partitionBy("rf", c)
          rank().over(w).cast("long") * 2 + count(lit(1)).over(tie) - 1
        }
        li.withColumn("ra2", rank2("x")).withColumn("rb2", rank2("y"))
          .groupBy(col("rf"))
          .agg(count(lit(1)).as("n"),
            sum((col("ra2") - col("rb2")) * (col("ra2") - col("rb2")))
              .as("sum_d2sq"))
          .selectExpr("rf", "n", "sum_d2sq",
            // rho = 1 - 6*(sum_d2sq/4)/(n(n^2-1)) ->
            // num = 2*n*(n^2-1) - 3*sum_d2sq, den = 2*n*(n^2-1)
            "2 * n * (n * n - 1) - 3 * sum_d2sq AS rho_num",
            "2 * n * (n * n - 1) AS rho_den")
          .orderBy("rf")
      },
      Some("""WITH li AS (SELECT l_returnflag AS rf,
            CAST(l_quantity AS BIGINT) AS x,
            CAST(round(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem WHERE l_orderkey < 2000),
        r AS (SELECT rf,
            2 * rank() OVER (PARTITION BY rf ORDER BY x)
              + count(*) OVER (PARTITION BY rf, x) - 1 AS ra2,
            2 * rank() OVER (PARTITION BY rf ORDER BY y)
              + count(*) OVER (PARTITION BY rf, y) - 1 AS rb2
          FROM li),
        a AS (SELECT rf, count(*) AS n,
            CAST(sum((ra2 - rb2) * (ra2 - rb2)) AS BIGINT) AS sum_d2sq
          FROM r GROUP BY rf)
        SELECT rf, n, sum_d2sq,
          CAST(2 * n * (n * n - 1) - 3 * sum_d2sq AS BIGINT) AS rho_num,
          CAST(2 * n * (n * n - 1) AS BIGINT) AS rho_den
        FROM a ORDER BY rf""")),

    // ---- 2-D skyline (Pareto frontier) ----
    // The "best tradeoff set" operator (price vs size over parts):
    // a part is dominated when another is >= on both axes and > on at
    // least one. For 2-D the frontier needs NO pair join — sort by
    // (price desc, size desc) and a point survives iff its size
    // strictly exceeds the running max size of everything strictly
    // cheaper-or-equal-priced before it; equal-(price, size)
    // duplicates all survive together (nothing strictly dominates
    // them). One window pass; the oracle brute-forces the dominance
    // definition with an anti-join — definitional, not a replay.
    "rel_skyline_2d" -> Q(
      (s, dir) => {
        val p = t(s, dir, "part")
          .selectExpr("p_partkey AS pk",
            "cast(round(p_retailprice * 100) as bigint) AS price",
            "cast(p_size as bigint) AS size")
        // dominance is decided between DISTINCT points (exact-duplicate
        // points never strictly dominate each other and co-survive), so
        // the window runs over the distinct set and duplicates rejoin
        val dp = p.select("price", "size").distinct()
        val w = Window.orderBy(col("price").desc, col("size").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
        val frontier = dp.withColumn("prior_max_size", max(col("size")).over(w))
          .where(col("prior_max_size").isNull || col("size") > col("prior_max_size"))
          .select("price", "size")
        p.join(broadcast(frontier), Seq("price", "size"), "left_semi")
          .select("pk", "price", "size")
          .orderBy("pk")
      },
      Some("""WITH p AS (SELECT p_partkey AS pk,
            CAST(round(p_retailprice * 100) AS BIGINT) AS price,
            CAST(p_size AS BIGINT) AS size
          FROM part)
        SELECT pk, price, size FROM p a
        WHERE NOT EXISTS (SELECT 1 FROM p b
          WHERE b.price >= a.price AND b.size >= a.size
            AND (b.price > a.price OR b.size > a.size))
        ORDER BY pk""")),

    // ---- conversion-lag histogram (first view -> first purchase) ----
    // The time-to-convert distribution: per user the FIRST view and
    // FIRST purchase timestamps (one conditional-min agg — no
    // self-join), positive lags only (a purchase preceding any view is
    // not a conversion), bucketed by hour. All integer micros; one
    // user-keyed shuffle into a ~bucket-count aggregate.
    "rel_conversion_lag" -> Q(
      (s, dir) =>
        eventsTs(s, dir)
          .selectExpr("user_id", "event_type", "unix_micros(ts) AS tus")
          .groupBy(col("user_id"))
          .agg(min(when(col("event_type") === "view", col("tus"))).as("first_view"),
            min(when(col("event_type") === "purchase", col("tus"))).as("first_buy"))
          .where(col("first_view").isNotNull && col("first_buy").isNotNull &&
            col("first_buy") > col("first_view"))
          .selectExpr("(first_buy - first_view) div (3600 * 1000000L) AS lag_hours")
          .groupBy(col("lag_hours")).agg(count(lit(1)).as("n_users"))
          .orderBy("lag_hours"),
      Some("""WITH f AS (SELECT user_id,
            min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
            min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_buy
          FROM events GROUP BY user_id)
        SELECT (first_buy - first_view) // (3600 * 1000000::BIGINT) AS lag_hours,
          count(*) AS n_users
        FROM f WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
          AND first_buy > first_view
        GROUP BY lag_hours ORDER BY lag_hours""")),

    // ---- SCD2 validity intervals from an event stream ----
    // The warehouse change-capture shape: each observation's validity
    // runs until the user's next observation (lead window; NULL = still
    // current). Time stays in exact integer micros; event_id breaks
    // duplicate-timestamp ties deterministically on both engines. One
    // window shuffle keyed by user.
    "rel_scd2_intervals" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        eventsTs(s, dir).where(col("user_id") < 20)
          .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus", "value")
          .withColumn("valid_to_us", lead(col("tus"), 1).over(w))
          .selectExpr("user_id", "event_id", "tus", "valid_to_us",
            "valid_to_us - tus AS dur_us", "value")
          .orderBy("user_id", "tus", "event_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value
          FROM events WHERE user_id < 20),
        f AS (SELECT user_id, event_id, tus,
            lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS valid_to_us,
            value FROM e)
        SELECT user_id, event_id, tus, valid_to_us,
          valid_to_us - tus AS dur_us, value
        FROM f ORDER BY user_id, tus, event_id""")),

    // ---- event-type transition matrix (first-order Markov summary) ----
    // Per user, consecutive event pairs via one lag window, then a
    // tiny (types²) aggregate; the conditional probability lands in
    // micro fixed-point from integer counts. The one-shuffle flow-
    // analysis shape behind every "user journey" sankey.
    "rel_event_transitions" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        val steps = eventsTs(s, dir)
          .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus", "event_type")
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .where(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
        val totals = Window.partitionBy("prev_type")
        steps.withColumn("from_total", sum(col("n")).over(totals))
          .selectExpr("prev_type", "next_type", "n",
            "1000000 * n div from_total AS p_micro")
          .orderBy("prev_type", "next_type")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
          FROM events),
        st AS (SELECT event_type AS next_type,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev_type
          FROM e),
        c AS (SELECT prev_type, next_type, count(*) AS n FROM st
          WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type),
        t AS (SELECT c.*, sum(n) OVER (PARTITION BY prev_type) AS from_total FROM c)
        SELECT prev_type, next_type, n,
          CAST(1000000 * n // from_total AS BIGINT) AS p_micro
        FROM t ORDER BY prev_type, next_type""")),

    // ---- robust outlier detection (median absolute deviation) ----
    // The robust-statistics alternative to z-scores: per group, the
    // median and MAD of an integral measure, outliers = |x − med| >
    // 3·MAD. Exactness discipline: medians of integers are k or k.5 —
    // exact in binary doubles — so DOUBLED medians (med2 = 2·median,
    // mad4 = 4·MAD) are exact BIGINTs and the outlier test becomes the
    // all-integer 2·|2x − med2| > 3·mad4. Two grouped exact
    // percentiles + a broadcast join back; group count is tiny.
    "rel_mad_outliers" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .selectExpr("l_returnflag AS rf", "cast(l_quantity as bigint) AS q")
        val med = li.groupBy("rf")
          .agg(expr("cast(round(2 * percentile(q, 0.5)) as bigint)").as("med2"))
        val dev = li.join(broadcast(med), Seq("rf"))
          .withColumn("dev2", abs(lit(2) * col("q") - col("med2")))
        val mad = dev.groupBy("rf")
          .agg(expr("cast(round(2 * percentile(dev2, 0.5)) as bigint)").as("mad4"))
        dev.join(broadcast(mad), Seq("rf"))
          .groupBy(col("rf"))
          .agg(count(lit(1)).as("n"),
            max(col("med2")).as("med2"), max(col("mad4")).as("mad4"),
            sum(when(lit(2) * col("dev2") > lit(3) * col("mad4"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy("rf")
      },
      Some("""WITH li AS (SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS q
          FROM lineitem),
        med AS (SELECT rf, CAST(round(2 * quantile_cont(q, 0.5)) AS BIGINT) AS med2
          FROM li GROUP BY rf),
        dev AS (SELECT li.rf, abs(2 * q - med2) AS dev2, med2
          FROM li JOIN med ON med.rf = li.rf),
        mad AS (SELECT rf, CAST(round(2 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
          FROM dev GROUP BY rf)
        SELECT dev.rf, count(*) AS n,
          CAST(max(dev.med2) AS BIGINT) AS med2,
          CAST(max(mad.mad4) AS BIGINT) AS mad4,
          CAST(sum(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev JOIN mad ON mad.rf = dev.rf
        GROUP BY dev.rf ORDER BY 1""")),

    // ---- closest-feature distance (bedtools closest), join-free ----
    // For each A interval, the distance to its nearest B interval on
    // the same chrom (0 when overlapping/touching). The oracle is the
    // O(n*m) brute-force min over all same-chrom pairs; the Spark plan
    // is CorpusOps.closestFeatures — union + two window passes, NO join
    // (plan-gated); property-checked against brute force on random
    // inputs in IntervalOpsSpec. The merge-scalable bucketing trick
    // applies unchanged when one chrom dominates.
    "rel_interval_closest" -> Q(
      (s, dir) => {
        val ev = eventsTs(s, dir)
        def side(et: String, len: Int) = ev
          .where(col("event_type") === et)
          .selectExpr("user_id % 16 AS chrom",
            "unix_micros(ts) div 1000000 AS s")
          .withColumn("e", col("s") + len)
        CorpusOps.closestFeatures(side("click", 3600), side("view", 2700))
          .groupBy("chrom")
          .agg(count(lit(1)).as("n_a"), sum(col("dist")).as("sum_dist"),
            max(col("dist")).as("max_dist"),
            sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_touching"))
          .orderBy("chrom")
      },
      Some("""WITH a AS (SELECT event_id AS a_id, user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS a_s, epoch_us(ts) // 1000000 + 3600 AS a_e
          FROM events WHERE event_type = 'click'),
        b AS (SELECT user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS b_s, epoch_us(ts) // 1000000 + 2700 AS b_e
          FROM events WHERE event_type = 'view'),
        d AS (SELECT a.chrom, a.a_id,
            min(greatest(0, greatest(a_s, b_s) - least(a_e, b_e))) AS dist
          FROM a JOIN b ON a.chrom = b.chrom
          GROUP BY a.chrom, a.a_id)
        SELECT chrom, count(*) AS n_a, CAST(sum(dist) AS BIGINT) AS sum_dist,
          CAST(max(dist) AS BIGINT) AS max_dist,
          CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_touching
        FROM d GROUP BY chrom ORDER BY chrom""")),

    // ---- interval merge, range-bucketed (the 100 TB shape) ----
    // Same answer as rel_interval_merge (same oracle), different plan:
    // the plain sweep's parallelism is bounded by chromosome count, so
    // a single-chromosome corpus runs one task. Here the sweep runs per
    // (chrom, start-bucket) — parallelism = chrom x buckets — and a
    // second sweep merges the per-bucket REGIONS per chromosome.
    // Correct because contiguous merge is associative: two intervals
    // that overlap across a bucket boundary yield bucket-level regions
    // that overlap, which the region sweep (orders of magnitude fewer
    // rows) then joins. This is the stitching described in SCALE.md,
    // executed as a plan instead of prose; IntervalOpsSpec
    // property-checks both plans against a brute-force merge.
    "rel_interval_merge_scalable" -> Q(
      (s, dir) => {
        val iv = clickIntervals(s, dir)
        summarizeRegions(CorpusOps.mergeIntervals(iv, bucketWidth = Some(16384L)))
      },
      Some(MergeOracleSql)),

    // ---- interval merge (the bedtools-merge sweep) ----
    // Collapse overlapping intervals per chromosome into maximal covered
    // regions: sort by start, an interval opens a new region iff its
    // start exceeds the running max end of everything before it, region
    // id = running count of opens. Two window passes over ONE
    // (chrom)-keyed sort — no self-join, no pair space. Group identity is
    // order-insensitive under (s, e) ties, so the result is deterministic
    // without a unique tiebreaker. At 100 TB the sweep is per-chromosome
    // sequential by nature; chrom count bounds parallelism, which is why
    // production splits by (chrom, range) and stitches boundaries — the
    // overlap-join above (bin-keyed) is the fine-grained-parallel
    // alternative when the downstream op allows it (noted in SCALE.md).
    "rel_interval_merge" -> Q(
      (s, dir) => summarizeRegions(CorpusOps.mergeIntervals(clickIntervals(s, dir))),
      Some(MergeOracleSql)),

    // ---- interval complement (bedtools complement, internal gaps) ----
    // The gaps BETWEEN merged regions per chrom — one lead() window
    // over the (already few) merged regions, so the cost rides on the
    // merge sweep; no join, no extra corpus pass.
    "rel_interval_complement" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("chrom").orderBy("region_start")
        CorpusOps.mergeIntervals(clickIntervals(s, dir))
          .withColumn("next_s", lead(col("region_start"), 1).over(w))
          .where(col("next_s") > col("region_end"))
          .groupBy("chrom")
          .agg(count(lit(1)).as("n_gaps"),
            sum(col("next_s") - col("region_end")).as("gap_span"),
            max(col("next_s") - col("region_end")).as("max_gap"))
          .orderBy("chrom")
      },
      Some("""WITH iv AS (SELECT user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 + 1800 AS e
          FROM events WHERE event_type = 'click'),
        f AS (SELECT chrom, s, e,
            CASE WHEN s > coalesce(max(e) OVER (PARTITION BY chrom ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808)
              THEN 1 ELSE 0 END AS opens
          FROM iv),
        g AS (SELECT chrom, s, e,
            sum(opens) OVER (PARTITION BY chrom ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM f),
        r AS (SELECT chrom, grp, min(s) AS region_start, max(e) AS region_end
          FROM g GROUP BY chrom, grp),
        gaps AS (SELECT chrom, region_end,
            lead(region_start) OVER (PARTITION BY chrom ORDER BY region_start) AS next_s
          FROM r)
        SELECT chrom, count(*) AS n_gaps,
          CAST(sum(next_s - region_end) AS BIGINT) AS gap_span,
          CAST(max(next_s - region_end) AS BIGINT) AS max_gap
        FROM gaps WHERE next_s > region_end
        GROUP BY chrom ORDER BY chrom""")),

    // ---- interval-set jaccard (bedtools jaccard), join-free ----
    // Similarity of two interval SETS: intersection bp / union bp. The
    // naive plan merges each side then pair-joins regions; this plan is
    // one TWO-CHANNEL coverage sweep — each side contributes ±1 deltas
    // on its own counter, deltas collapse by (chrom, pos), and the
    // segment [pos, next pos) counts toward the intersection when both
    // running depths are positive, toward the union when either is.
    // Raw (unmerged) intervals feed it directly: depth>0 is identical
    // to merged coverage. One keyed groupBy + one window sort, no join
    // anywhere (plan-gated).
    "rel_interval_jaccard" -> Q(
      (s, dir) => {
        val ev = eventsTs(s, dir)
        def side(et: String, len: Int) = ev
          .where(col("event_type") === et)
          .selectExpr("user_id % 16 AS chrom",
            "unix_micros(ts) div 1000000 AS s")
          .withColumn("e", col("s") + len)
        val r = CorpusOps.coverageSegments(side("click", 1800), side("view", 900))
          .where(col("np").isNotNull)
          .withColumn("seg", col("np") - col("pos"))
        r.groupBy("chrom")
          .agg(
            sum(when(col("ca") > 0 && col("cb") > 0, col("seg")).otherwise(0L)).as("inter_bp"),
            sum(when(col("ca") > 0 || col("cb") > 0, col("seg")).otherwise(0L)).as("union_bp"))
          .withColumn("jaccard",
            round(col("inter_bp").cast("double") / col("union_bp"), 6))
          .orderBy("chrom")
      },
      Some("""WITH a AS (SELECT user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 + 1800 AS e
          FROM events WHERE event_type = 'click'),
        b AS (SELECT user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 + 900 AS e
          FROM events WHERE event_type = 'view'),
        d AS (SELECT chrom, s AS pos, 1 AS da, 0 AS db FROM a
          UNION ALL SELECT chrom, e, -1, 0 FROM a
          UNION ALL SELECT chrom, s, 0, 1 FROM b
          UNION ALL SELECT chrom, e, 0, -1 FROM b),
        g AS (SELECT chrom, pos, sum(da) AS da, sum(db) AS db FROM d GROUP BY chrom, pos),
        r AS (SELECT chrom, pos,
            sum(da) OVER (PARTITION BY chrom ORDER BY pos) AS ca,
            sum(db) OVER (PARTITION BY chrom ORDER BY pos) AS cb,
            lead(pos) OVER (PARTITION BY chrom ORDER BY pos) AS np
          FROM g)
        SELECT chrom,
          CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN np - pos ELSE 0 END) AS BIGINT) AS inter_bp,
          CAST(sum(CASE WHEN ca > 0 OR cb > 0 THEN np - pos ELSE 0 END) AS BIGINT) AS union_bp,
          round(sum(CASE WHEN ca > 0 AND cb > 0 THEN np - pos ELSE 0 END) * 1.0
                / sum(CASE WHEN ca > 0 OR cb > 0 THEN np - pos ELSE 0 END), 6) AS jaccard
        FROM r WHERE np IS NOT NULL GROUP BY chrom ORDER BY chrom""")),

    // ---- interval subtraction (bedtools subtract), join-free ----
    // A \ B as COVERAGE algebra on the shared two-channel sweep: a
    // segment belongs to the result iff A-depth > 0 and B-depth = 0.
    // Beyond the spans, it counts MAXIMAL surviving fragments — the
    // number each per-interval subtraction would emit after merging —
    // as runs of qualifying segments: a fragment starts at a
    // qualifying segment whose predecessor doesn't qualify (one lag()
    // on the already-sorted segment frame; segments are contiguous, so
    // adjacent qualifying segments are one fragment). Same cost shape
    // as the jaccard sweep: one keyed groupBy + one (chrom)-keyed
    // window sort, no join, no pair space; per-chrom parallelism with
    // the merge-scalable bucketing trick available when one chrom
    // dominates. Property-checked against a brute-force per-point
    // subtraction in IntervalOpsSpec.
    "rel_interval_subtract" -> Q(
      (s, dir) => {
        val ev = eventsTs(s, dir)
        def side(et: String, len: Int) = ev
          .where(col("event_type") === et)
          .selectExpr("user_id % 16 AS chrom",
            "unix_micros(ts) div 1000000 AS s")
          .withColumn("e", col("s") + len)
        CorpusOps.subtractIntervals(side("click", 1500), side("purchase", 1000))
      },
      Some("""WITH a AS (SELECT user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 + 1500 AS e
          FROM events WHERE event_type = 'click'),
        b AS (SELECT user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 + 1000 AS e
          FROM events WHERE event_type = 'purchase'),
        d AS (SELECT chrom, s AS pos, 1 AS da, 0 AS db FROM a
          UNION ALL SELECT chrom, e, -1, 0 FROM a
          UNION ALL SELECT chrom, s, 0, 1 FROM b
          UNION ALL SELECT chrom, e, 0, -1 FROM b),
        g AS (SELECT chrom, pos, sum(da) AS da, sum(db) AS db FROM d GROUP BY chrom, pos),
        r AS (SELECT chrom, pos,
            sum(da) OVER (PARTITION BY chrom ORDER BY pos) AS ca,
            sum(db) OVER (PARTITION BY chrom ORDER BY pos) AS cb,
            lead(pos) OVER (PARTITION BY chrom ORDER BY pos) AS np
          FROM g),
        fl AS (SELECT chrom, pos, np, ca,
            (np IS NOT NULL AND ca > 0 AND cb = 0) AS f
          FROM r),
        st AS (SELECT chrom, pos, np, ca, f,
            (f AND NOT coalesce(lag(f) OVER (PARTITION BY chrom ORDER BY pos), false)) AS starts
          FROM fl)
        SELECT chrom,
          CAST(sum(CASE WHEN np IS NOT NULL AND ca > 0 THEN np - pos ELSE 0 END) AS BIGINT) AS a_bp,
          CAST(sum(CASE WHEN f THEN np - pos ELSE 0 END) AS BIGINT) AS sub_bp,
          CAST(sum(CASE WHEN starts THEN 1 ELSE 0 END) AS BIGINT) AS n_fragments
        FROM st GROUP BY chrom ORDER BY chrom""")),

    // ---- event funnel (click -> view conversion), join-free ----
    // For each click, did the SAME user produce a view within the next
    // 600 s? The naive plan is a per-click correlated EXISTS (the
    // oracle) — a time-range theta-join. This plan is the closestFeatures
    // idiom on the event stream: union both event types, sort per user
    // by time DESCENDING with views ordered before clicks at equal
    // timestamps, and take a running min of view times — a GROWING
    // window frame (O(n) processor, see the closestFeatures note on why a
    // shrinking frame is quadratic). next_view_s is then the earliest
    // view at-or-after each click, and conversion is one comparison.
    // Shuffle: ONE user-keyed window sort over the event stream — no
    // join, no per-pair row space, skew bounded by events-per-user.
    "rel_event_funnel" -> Q(
      (s, dir) => {
        val ev = eventsTs(s, dir)
          .selectExpr("user_id", "event_type",
            "unix_micros(ts) div 1000000 AS s")
          .where(col("event_type").isin("click", "view"))
        val u = ev.select(col("user_id"), col("s"),
          when(col("event_type") === "click", 1).otherwise(0).as("side"),
          when(col("event_type") === "view", col("s")).as("view_s"))
        // desc sort, views (side 0) first at equal s: a view at the
        // click's own timestamp is already in the frame => converts
        val w = Window.partitionBy("user_id")
          .orderBy(col("s").desc, col("side").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.withColumn("next_view_s", min(col("view_s")).over(w))
          .where(col("side") === 1)
          .withColumn("cohort", col("user_id") % 16)
          .groupBy("cohort")
          .agg(count(lit(1)).as("n_clicks"),
            sum(when(col("next_view_s") <= col("s") + 600, 1L).otherwise(0L))
              .as("n_converted"))
          .withColumn("conv_rate",
            round(col("n_converted").cast("double") / col("n_clicks"), 6))
          .orderBy("cohort")
      },
      Some("""WITH c AS (SELECT user_id, epoch_us(ts) // 1000000 AS s
          FROM events WHERE event_type = 'click'),
        v AS (SELECT user_id, epoch_us(ts) // 1000000 AS s
          FROM events WHERE event_type = 'view'),
        d AS (SELECT user_id, s,
            EXISTS (SELECT 1 FROM v WHERE v.user_id = c.user_id
                    AND v.s >= c.s AND v.s <= c.s + 600) AS conv
          FROM c)
        SELECT user_id % 16 AS cohort, count(*) AS n_clicks,
          CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
          round(sum(CASE WHEN conv THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS conv_rate
        FROM d GROUP BY 1 ORDER BY cohort""")),

    // ---- interval coverage depth (the genomecov sweep-line) ----
    // Per-base (here per-second) depth without materializing per-base
    // rows: each interval contributes +1 at its start and -1 at its end,
    // deltas collapse by (chrom, pos) — making the running sum
    // order-independent — and the prefix sum over position IS the depth
    // of the segment [pos, next pos). Aggregating seg_len by depth gives
    // covered span, peak depth, and the depth integral (== total interval
    // seconds, a free self-check) in one pass. Shuffle cost: one groupBy
    // (chrom, pos) + one (chrom)-keyed window sort, independent of depth
    // or interval length — the per-base explode a naive version does
    // would be 900x more rows here.
    "rel_interval_coverage" -> Q(
      (s, dir) => {
        val ev = eventsTs(s, dir)
        val iv = ev.where(col("event_type") === "view")
          .selectExpr("user_id % 16 AS chrom",
            "unix_micros(ts) div 1000000 AS s")
          .withColumn("e", col("s") + 900)
        val deltas = iv.select(col("chrom"), col("s").as("pos"), lit(1L).as("delta"))
          .unionAll(iv.select(col("chrom"), col("e").as("pos"), lit(-1L).as("delta")))
          .groupBy("chrom", "pos").agg(sum(col("delta")).as("d"))
        val w = Window.partitionBy("chrom").orderBy("pos")
        deltas
          .withColumn("depth", sum(col("d"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("seg_len", lead(col("pos"), 1).over(w) - col("pos"))
          .where(col("seg_len").isNotNull && col("depth") > 0)
          .groupBy("chrom")
          .agg(sum(col("seg_len")).as("covered_sec"),
            max(col("depth")).as("max_depth"),
            sum(col("seg_len") * col("depth")).as("depth_sec"))
          .orderBy("chrom")
      },
      Some("""WITH iv AS (SELECT user_id % 16 AS chrom,
            epoch_us(ts) // 1000000 AS s, epoch_us(ts) // 1000000 + 900 AS e
          FROM events WHERE event_type = 'view'),
        d AS (SELECT chrom, pos, sum(delta) AS d FROM (
            SELECT chrom, s AS pos, 1 AS delta FROM iv
            UNION ALL SELECT chrom, e AS pos, -1 AS delta FROM iv)
          GROUP BY chrom, pos),
        r AS (SELECT chrom, pos, d,
            sum(d) OVER (PARTITION BY chrom ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth,
            lead(pos) OVER (PARTITION BY chrom ORDER BY pos) - pos AS seg_len
          FROM d)
        SELECT chrom, CAST(sum(seg_len) AS BIGINT) AS covered_sec,
          CAST(max(depth) AS BIGINT) AS max_depth,
          CAST(sum(seg_len * depth) AS BIGINT) AS depth_sec
        FROM r WHERE seg_len IS NOT NULL AND depth > 0
        GROUP BY chrom ORDER BY chrom""")),

    // ---- bedtools cluster (overlap-chain ids) ----
    // The classic sweep: within each chromosome, an interval opens a
    // NEW cluster iff its start exceeds the running max end of
    // everything before it; the cluster id is the running count of
    // such breaks. Two ordered windows over one partition — no join,
    // no per-base rows; partition by chrom at scale exactly like the
    // merge/coverage family. Generated mix: c1 singletons, c2
    // two-interval chains.
    "rel_interval_cluster" -> Q(
      (s, _) => {
        val iv = s.range(300).selectExpr(
            "CASE WHEN id % 3 = 0 THEN 'c1' ELSE 'c2' END AS chrom",
            "(id div 3) * 11 + (id % 3) * 4 + 1 AS start")
          .withColumn("end", col("start") + 5)
        val w = Window.partitionBy("chrom").orderBy("start", "end")
        iv.withColumn("max_prev",
            max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("brk",
            when(col("max_prev").isNull || col("start") > col("max_prev"), 1L)
              .otherwise(0L))
          .withColumn("cluster_id",
            sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("chrom"), col("cluster_id"))
          .agg(count(lit(1)).as("n"), min(col("start")).as("cluster_start"),
            max(col("end")).as("cluster_end"))
          .orderBy("chrom", "cluster_id")
      },
      Some("""WITH iv AS (SELECT CASE WHEN i % 3 = 0 THEN 'c1' ELSE 'c2' END AS chrom,
            (i // 3) * 11 + (i % 3) * 4 + 1 AS s, (i // 3) * 11 + (i % 3) * 4 + 6 AS e
          FROM range(0, 300) t(i)),
        m AS (SELECT chrom, s, e,
            max(e) OVER (PARTITION BY chrom ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev
          FROM iv),
        c AS (SELECT chrom, s, e,
            sum(CASE WHEN max_prev IS NULL OR s > max_prev THEN 1 ELSE 0 END)
              OVER (PARTITION BY chrom ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cluster_id
          FROM m)
        SELECT chrom, CAST(cluster_id AS BIGINT) AS cluster_id, count(*) AS n,
          CAST(min(s) AS BIGINT) AS cluster_start, CAST(max(e) AS BIGINT) AS cluster_end
        FROM c GROUP BY chrom, cluster_id ORDER BY chrom, cluster_id""")),

    // ---- bedtools multiinter (common/partition across N sets) ----
    // Per-source +1/-1 events pivot to fixed per-source delta columns,
    // ONE ordered window produces all three running coverages at once,
    // and segments come from lead(pos) — the N-set generalization of
    // the event sweep, still never materializing per-base rows. Every
    // event position flips some source's presence (per-source depth is
    // 0/1 here), so sweep segments are maximal and comparable to the
    // oracle's island grouping. The oracle brute-forces the OPPOSITE
    // algorithm: per-position membership over the whole span, then
    // gaps-and-islands on the presence vector.
    "rel_interval_multiinter" -> Q(
      (s, _) => {
        val srcs = (0 until 3).map { k =>
          s.range(30 + 10 * k).selectExpr(
            s"id * 17 + ${k * 5} + 1 AS s0",
            s"id * 17 + ${k * 5} + ${10 + k} AS e0",
            s"'s$k' AS src")
        }.reduce(_ unionAll _)
        val ev = srcs.selectExpr("s0 AS pos", "src", "1L AS delta")
          .unionAll(srcs.selectExpr("e0 + 1 AS pos", "src", "-1L AS delta"))
          .groupBy("pos").pivot("src", Seq("s0", "s1", "s2")).sum("delta")
          .selectExpr("pos", "coalesce(s0, 0L) AS d0", "coalesce(s1, 0L) AS d1",
            "coalesce(s2, 0L) AS d2")
        val w = Window.orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, 0)
        ev.withColumn("c0", sum(col("d0")).over(w))
          .withColumn("c1", sum(col("d1")).over(w))
          .withColumn("c2", sum(col("d2")).over(w))
          .withColumn("nxt", lead(col("pos"), 1).over(Window.orderBy("pos")))
          .where(col("nxt").isNotNull && (col("c0") + col("c1") + col("c2")) > 0)
          .selectExpr("pos AS start", "nxt - 1 AS end",
            "IF(c0 > 0, 1L, 0L) + IF(c1 > 0, 1L, 0L) + IF(c2 > 0, 1L, 0L) AS n",
            "concat_ws(',', IF(c0 > 0, 's0', NULL), IF(c1 > 0, 's1', NULL), " +
              "IF(c2 > 0, 's2', NULL)) AS sources")
          .orderBy("start")
      },
      Some("""WITH i0 AS (SELECT i * 17 + 1 AS s, i * 17 + 10 AS e FROM range(0, 30) t(i)),
        i1 AS (SELECT i * 17 + 6 AS s, i * 17 + 16 AS e FROM range(0, 40) t(i)),
        i2 AS (SELECT i * 17 + 11 AS s, i * 17 + 22 AS e FROM range(0, 50) t(i)),
        pr AS (SELECT p,
            CASE WHEN EXISTS(SELECT 1 FROM i0 WHERE p BETWEEN s AND e) THEN 1 ELSE 0 END AS a,
            CASE WHEN EXISTS(SELECT 1 FROM i1 WHERE p BETWEEN s AND e) THEN 1 ELSE 0 END AS b,
            CASE WHEN EXISTS(SELECT 1 FROM i2 WHERE p BETWEEN s AND e) THEN 1 ELSE 0 END AS c
          FROM range(1, 1000) q(p)),
        f AS (SELECT p, a, b, c,
            p - row_number() OVER (PARTITION BY a, b, c ORDER BY p) AS grp FROM pr),
        seg AS (SELECT a, b, c, min(p) AS s, max(p) AS e
          FROM f GROUP BY a, b, c, grp)
        SELECT CAST(s AS BIGINT) AS start, CAST(e AS BIGINT) AS "end",
          CAST(a + b + c AS BIGINT) AS n,
          concat_ws(',', CASE WHEN a = 1 THEN 's0' END,
            CASE WHEN b = 1 THEN 's1' END, CASE WHEN c = 1 THEN 's2' END) AS sources
        FROM seg WHERE a + b + c > 0 ORDER BY start""")),

    // ---- top-k (TakeOrderedAndProject) ----
    "rel_topk" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), fin(dec(col("o_totalprice"))).as("price"))
          .orderBy(col("price").desc, col("o_orderkey").asc)
          .limit(10),
      Some(s"""SELECT o_orderkey, CAST(CAST(o_totalprice AS $DEC) AS DOUBLE) AS price FROM orders
        ORDER BY price DESC, o_orderkey ASC LIMIT 10""")),

    // ---- date bucketing + string scalars ----
    "rel_month_rollup" -> Q(
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_orders"), fin(d18(sum(dec(col("o_totalprice"))))).as("sum_total"))
          .orderBy("month"),
      Some(s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        count(*) AS n_orders, CAST(CAST(sum(CAST(o_totalprice AS $DEC)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_total
        FROM orders GROUP BY 1 ORDER BY month""")),

    // ---- string/math scalar surface ----
    "rel_scalar_funcs" -> Q(
      (s, dir) =>
        t(s, dir, "customer")
          .select(
            col("c_custkey"),
            upper(substring(col("c_name"), 1, 8)).as("name8"),
            length(col("c_name")).cast("long").as("name_len"),
            concat(col("c_mktsegment"), lit("#"), col("c_nationkey").cast("string")).as("seg_nat"),
            floor(col("c_acctbal")).cast("long").as("bal_floor"),
            fin(dec(abs(col("c_acctbal")))).as("bal_abs"))
          .orderBy("c_custkey"),
      Some(s"""SELECT c_custkey, upper(substr(c_name, 1, 8)) AS name8,
        CAST(length(c_name) AS BIGINT) AS name_len,
        c_mktsegment || '#' || CAST(c_nationkey AS VARCHAR) AS seg_nat,
        CAST(floor(c_acctbal) AS BIGINT) AS bal_floor,
        CAST(CAST(abs(c_acctbal) AS $DEC) AS DOUBLE) AS bal_abs
        FROM customer ORDER BY c_custkey""")),

    // ---- wider string-function battery ----
    "rel_string_funcs2" -> Q(
      (s, dir) =>
        t(s, dir, "part")
          .selectExpr(
            "p_partkey",
            "lpad(p_brand, 12, '*') AS padded",
            "rpad(p_type, 10, '.') AS rpadded",
            "reverse(p_name) AS rev",
            "repeat(p_brand, 2) AS doubled",
            "trim(concat('  ', p_name, '  ')) AS trimmed",
            "replace(p_name, ' ', '_') AS snake",
            "instr(p_name, 'e') AS first_e",
            "split_part(p_name, ' ', 1) AS first_word")
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
          lpad(p_brand, 12, '*') AS padded,
          rpad(p_type, 10, '.') AS rpadded,
          reverse(p_name) AS rev,
          repeat(p_brand, 2) AS doubled,
          trim('  ' || p_name || '  ') AS trimmed,
          replace(p_name, ' ', '_') AS snake,
          CAST(instr(p_name, 'e') AS INTEGER) AS first_e,
          split_part(p_name, ' ', 1) AS first_word
        FROM part ORDER BY p_partkey""")),

    // ---- distinct aggregation ----
    "rel_count_distinct" -> Q(
      (s, dir) =>
        t(s, dir, "customer")
          .groupBy("c_mktsegment")
          .agg(countDistinct(col("c_nationkey")).as("n_nations"), count(lit(1)).as("n"))
          .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations, count(*) AS n
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- approx distinct (HLL): asserted within 5% of exact ----
    "rel_approx_distinct" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .agg(
            countDistinct(col("l_partkey")).as("exact_parts"),
            approx_count_distinct(col("l_partkey")).as("apx"))
          .select(
            col("exact_parts"),
            (abs(col("apx") - col("exact_parts")).cast("double") / col("exact_parts") < 0.05).as("approx_ok")),
      Some("""SELECT count(DISTINCT l_partkey) AS exact_parts, true AS approx_ok FROM lineitem""")),

    // ---- full outer join with nulls ----
    "rel_full_outer" -> Q(
      (s, dir) => {
        val n = t(s, dir, "nation")
        val rich = t(s, dir, "customer").where(col("c_acctbal") > 4500)
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
        n.join(rich, n("n_nationkey") === rich("c_nationkey"), "full_outer")
          .select(col("n_name"), coalesce(col("cnt"), lit(0L)).as("n_rich"))
          .orderBy(col("n_name").asc_nulls_first)
      },
      Some("""SELECT n_name, coalesce(cnt, 0) AS n_rich FROM nation
        FULL OUTER JOIN (SELECT c_nationkey, count(*) AS cnt FROM customer
                         WHERE c_acctbal > 4500 GROUP BY c_nationkey) r
        ON n_nationkey = c_nationkey ORDER BY n_name NULLS FIRST""")),

    // ---- collect_list + sort (list agg, rendered as string) ----
    "rel_list_agg" -> Q(
      (s, dir) => {
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name")
          .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, array_to_string(list_sort(list(n_name)), ',') AS nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // ---- explode / UNNEST ----
    "rel_explode_tokens" -> Q(
      (s, dir) =>
        t(s, dir, "part")
          .select(explode(split(col("p_name"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy("token"),
      Some("""SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split(p_name, ' ')) AS token FROM part) t
        GROUP BY token ORDER BY token""")),

    // ---- scalar subquery ----
    "rel_scalar_subquery" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val avgP = o.agg(avg(col("o_totalprice")).as("avg_price"))
        o.crossJoin(broadcast(avgP))
          .where(col("o_totalprice") > col("avg_price"))
          .agg(count(lit(1)).as("n_above_avg"))
      },
      Some("""SELECT count(*) AS n_above_avg FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""")),

    // ---- pivot (conditional aggregation) ----
    "rel_pivot" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_linestatus")
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("A", "N", "R"))
          .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
        count(*) FILTER (WHERE l_returnflag = 'A') AS "A",
        count(*) FILTER (WHERE l_returnflag = 'N') AS "N",
        count(*) FILTER (WHERE l_returnflag = 'R') AS "R"
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // ---- time-bucketed event aggregation (events table) ----
    "rel_events_hourly" -> Q(
      (s, dir) =>
        eventsTs(s, dir)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), fin(d18(sum(dec(col("value"))))).as("sum_value"))
          .orderBy("hour", "event_type"),
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, count(*) AS n,
        CAST(CAST(sum(CAST(value AS $DEC)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- correlated scalar subquery (TPC-H Q17 shape) ----
    // l_quantity is integral, so avg = exact_integer_sum / count is the
    // same double in both engines; the 0.2x threshold compare is safe.
    "rel_correlated_avg" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = t(s, dir, "part").where(col("p_brand") === "Brand#17").select("p_partkey")
        val avgQ = li.groupBy(col("l_partkey").as("ap_partkey"))
          .agg(avg(col("l_quantity")).as("avg_qty"))
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .join(avgQ, li("l_partkey") === avgQ("ap_partkey"))
          .where(col("l_quantity") < col("avg_qty") * 0.2)
          .agg(fin(d18(sum(dec(col("l_extendedprice"))))).as("sum_price"), count(lit(1)).as("n"))
      },
      Some(s"""SELECT CAST(CAST(sum(CAST(l_extendedprice AS $DEC)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
        count(*) AS n FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#17'
          AND l_quantity < (SELECT avg(l_quantity) * 0.2 FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""")),

    // ---- group-min join-back (TPC-H Q2 shape) ----
    "rel_min_join_back" -> Q(
      (s, dir) => {
        val p = t(s, dir, "part").withColumn("price", dec(col("p_retailprice")))
        val mins = p.groupBy(col("p_type").as("mt")).agg(min(col("price")).as("min_price"))
        p.join(broadcast(mins), p("p_type") === mins("mt") && p("price") === mins("min_price"))
          .select(col("p_type"), col("p_partkey"), fin(col("min_price")).as("min_price"))
          .orderBy("p_type", "p_partkey")
      },
      Some(s"""SELECT p_type, p_partkey, CAST(CAST(p_retailprice AS $DEC) AS DOUBLE) AS min_price
        FROM part WHERE CAST(p_retailprice AS $DEC) =
          (SELECT min(CAST(p2.p_retailprice AS $DEC)) FROM part p2 WHERE p2.p_type = part.p_type)
        ORDER BY p_type, p_partkey""")),

    // ---- chained EXISTS + NOT EXISTS (TPC-H Q21 shape) ----
    "rel_multi_exists" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val late = li.select(col("l_orderkey").as("lk"), col("l_shipdate"))
        val big = li.where(col("l_quantity") > 49).select(col("l_orderkey").as("bk"))
        o.join(late, o("o_orderkey") === late("lk") &&
            late("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
          .join(big, o("o_orderkey") === big("bk"), "left_anti")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
          AND NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- exact interpolated percentiles ----
    "rel_percentile" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("round(percentile(l_quantity, 0.5), 4)").as("p50"),
            expr("round(percentile(l_quantity, 0.95), 4)").as("p95"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        round(quantile_cont(l_quantity, 0.95), 4) AS p95
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- UNION with distinct semantics ----
    "rel_union_distinct" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val big = o.where(col("o_totalprice") > 50000).select(col("o_custkey").as("ck"))
        val urgent = o.where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("ck"))
        big.union(urgent).distinct().agg(count(lit(1)).as("n_custs"))
      },
      Some("""SELECT count(*) AS n_custs FROM (
        SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 50000
        UNION SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""")),

    // ---- as-of join: most recent prior 'error' per 'click', per user ----
    // Composed from built-ins (preference order (a)): one running-max
    // window over the time-ordered union — a single shuffle on the key,
    // no custom strategy needed. The oracle uses DuckDB's native ASOF
    // JOIN, so two completely different formulations must agree.
    "rel_asof_join" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        eventsTs(s, dir)
          .where(col("event_type").isin("click", "error"))
          .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS ts_us")
          .withColumn("last_err_us",
            max(when(col("event_type") === "error", col("ts_us"))).over(w))
          .where(col("event_type") === "click")
          .selectExpr("event_id", "user_id",
            "date_format(timestamp_micros(ts_us), 'yyyy-MM-dd HH:mm:ss') AS click_ts",
            "date_format(timestamp_micros(last_err_us), 'yyyy-MM-dd HH:mm:ss') AS last_error_ts",
            "CAST((ts_us - last_err_us) div 1000000 AS BIGINT) AS gap_s")
          .orderBy("event_id")
      },
      Some("""SELECT c.event_id, c.user_id,
          strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
          strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS last_error_ts,
          (epoch_us(c.ts) - epoch_us(e.ts)) // 1000000 AS gap_s
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON c.user_id = e.user_id AND c.ts >= e.ts
        ORDER BY c.event_id""")),

    // ---- FORWARD as-of join: next 'error' at-or-after each 'click' ----
    // The mirror of rel_asof_join, with the frame-discipline twist: a
    // naive "min over following rows" is a SHRINKING window frame that
    // WindowExec re-aggregates per row (O(n²) per key — the exact trap
    // SCALE.md documents). Scanning time-DESCENDING turns it into a
    // GROWING running-min; equal-timestamp errors order before clicks
    // so the at-or-equal match survives the tie (DuckDB's ASOF c.ts <=
    // e.ts includes equality). Oracle = native forward ASOF JOIN —
    // two different formulations must agree.
    "rel_asof_forward" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("is_click").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        eventsTs(s, dir)
          .where(col("event_type").isin("click", "error"))
          .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS ts_us")
          .withColumn("is_click", when(col("event_type") === "click", 1).otherwise(0))
          .withColumn("next_err_us",
            min(when(col("event_type") === "error", col("ts_us"))).over(w))
          .where(col("event_type") === "click")
          .selectExpr("event_id", "user_id",
            "date_format(timestamp_micros(ts_us), 'yyyy-MM-dd HH:mm:ss') AS click_ts",
            "date_format(timestamp_micros(next_err_us), 'yyyy-MM-dd HH:mm:ss') AS next_error_ts",
            "CAST((next_err_us - ts_us) div 1000000 AS BIGINT) AS gap_s")
          .orderBy("event_id")
      },
      Some("""SELECT c.event_id, c.user_id,
          strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
          strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS next_error_ts,
          (epoch_us(e.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON c.user_id = e.user_id AND c.ts <= e.ts
        ORDER BY c.event_id""")),

    // ---- as-of join with tolerance (pandas merge_asof tolerance=1h) ----
    // The forward sweep above, with the match NULLED when it falls
    // beyond the tolerance horizon — the semantics every
    // sensor/trading as-of API exposes (a match 3 days later is not a
    // match). Same single-window plan, so the tolerance costs nothing;
    // the oracle is DuckDB's native ASOF wrapped in the tolerance
    // CASE — again two formulations that must agree.
    "rel_asof_tolerance" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("is_click").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        eventsTs(s, dir)
          .where(col("event_type").isin("click", "error"))
          .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS ts_us")
          .withColumn("is_click", when(col("event_type") === "click", 1).otherwise(0))
          .withColumn("next_err_us",
            min(when(col("event_type") === "error", col("ts_us"))).over(w))
          .where(col("event_type") === "click")
          .withColumn("next_err_us",
            when(col("next_err_us") - col("ts_us") <= 3600L * 1000000L,
              col("next_err_us")))
          .selectExpr("event_id", "user_id",
            "date_format(timestamp_micros(ts_us), 'yyyy-MM-dd HH:mm:ss') AS click_ts",
            "date_format(timestamp_micros(next_err_us), 'yyyy-MM-dd HH:mm:ss') AS next_error_ts",
            "CAST((next_err_us - ts_us) div 1000000 AS BIGINT) AS gap_s")
          .orderBy("event_id")
      },
      Some("""SELECT c.event_id, c.user_id,
          strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
          CASE WHEN epoch_us(e.ts) - epoch_us(c.ts) <= 3600000000
            THEN strftime(e.ts, '%Y-%m-%d %H:%M:%S') END AS next_error_ts,
          CASE WHEN epoch_us(e.ts) - epoch_us(c.ts) <= 3600000000
            THEN (epoch_us(e.ts) - epoch_us(c.ts)) // 1000000 END AS gap_s
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON c.user_id = e.user_id AND c.ts <= e.ts
        ORDER BY c.event_id""")),

    // ---- JSON extraction (events.props) ----
    "rel_json_extract" -> Q(
      (s, dir) =>
        eventsTs(s, dir)
          .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy("k").agg(count(lit(1)).as("n"))
          .orderBy("k"),
      Some("""SELECT CAST(props->>'$.k' AS BIGINT) AS k, count(*) AS n
        FROM events GROUP BY k ORDER BY k""")),

    // ---- first-touch attribution (marketing-analytics staple) ----
    // For every purchasing user, the FIRST click at-or-before their
    // first purchase, and the touch-to-conversion gap. One user window
    // computes the first-purchase time; the filtered first-click agg
    // rides the same user partitioning — a single shuffle end to end,
    // no self-join (the naive formulation joins events to itself on
    // user, doubling the corpus through the exchange).
    "rel_first_touch" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
        eventsTs(s, dir)
          .where(col("event_type").isin("click", "purchase"))
          .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us")
          .withColumn("p1",
            min(when(col("event_type") === "purchase", col("ts_us"))).over(w))
          .where(col("event_type") === "click" &&
            col("p1").isNotNull && col("ts_us") <= col("p1"))
          .groupBy("user_id")
          .agg(min(col("ts_us")).as("t1"), max(col("p1")).as("p1"))
          .groupBy()
          .agg(count(lit(1)).as("n_attributed"),
            sum(expr("(p1 - t1) div 1000000")).as("gap_s_sum"),
            max(expr("(p1 - t1) div 1000000")).as("gap_s_max"))
      },
      Some("""WITH p AS (
          SELECT user_id, min(epoch_us(ts)) AS p1 FROM events
          WHERE event_type = 'purchase' GROUP BY user_id),
        c AS (
          SELECT e.user_id, min(epoch_us(e.ts)) AS t1, min(p.p1) AS p1
          FROM events e JOIN p ON e.user_id = p.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) <= p.p1
          GROUP BY e.user_id)
        SELECT count(*) AS n_attributed,
          CAST(sum((p1 - t1) // 1000000) AS BIGINT) AS gap_s_sum,
          CAST(max((p1 - t1) // 1000000) AS BIGINT) AS gap_s_max
        FROM c""")),

    // ---- unpivot / melt (wide -> long, the pivot inverse) ----
    // Round-trips the relational surface's reshaping pair: pivot the
    // per-bucket event-type centi-sums wide, then melt back long with
    // Dataset.unpivot (Spark's stack/melt API). A pivot cell absent
    // from the data melts to NULL, which coalesces to 0 against the
    // oracle's dense bucket x type spine — the semantics difference
    // between "no rows" and "zero measure" made explicit. Reshaping is
    // metadata-only on top of one aggregation; nothing here exceeds
    // bucket x type cardinality after the agg.
    "rel_unpivot" -> Q(
      (s, dir) => {
        val wide = Q.t(s, dir, "events")
          .where(col("event_type").isin("click", "view", "error"))
          .groupBy((col("user_id") % 8).as("bucket"))
          .pivot("event_type", Seq("click", "error", "view"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")))
        wide.unpivot(
            Array(col("bucket")),
            Array(col("click"), col("error"), col("view")),
            "event_type", "centi_sum")
          .select(col("bucket"), col("event_type"),
            coalesce(col("centi_sum"), lit(0L)).as("centi_sum"))
          .orderBy("bucket", "event_type")
      },
      Some("""WITH base AS (
          SELECT user_id % 8 AS bucket, event_type,
            CAST(round(value * 100) AS BIGINT) AS centi
          FROM events WHERE event_type IN ('click', 'view', 'error')),
        spine AS (
          SELECT DISTINCT bucket FROM base),
        types AS (SELECT unnest(['click', 'error', 'view']) AS event_type),
        agg AS (
          SELECT bucket, event_type, CAST(sum(centi) AS BIGINT) AS centi_sum
          FROM base GROUP BY bucket, event_type)
        SELECT s.bucket, t.event_type,
          coalesce(agg.centi_sum, 0) AS centi_sum
        FROM spine s CROSS JOIN types t
        LEFT JOIN agg ON agg.bucket = s.bucket AND agg.event_type = t.event_type
        ORDER BY s.bucket, t.event_type""")),

    // ---- strand-aware flank (bedtools flank -l W -s analog) ----
    // For each interval, the W-base region immediately UPSTREAM of its
    // strand-aware 5' end — the promoter-extraction primitive. Pure
    // per-row arithmetic (projection only, no join, no window): at
    // 100 TB this is a map-only pass whose output feeds the interval
    // sweeps above. Strand is derived deterministically from the chrom
    // key; the low-end clip keeps flanks on the coordinate axis.
    "rel_interval_flank" -> Q(
      (s, dir) => {
        val iv = clickIntervals(s, dir)
          .withColumn("strand",
            when(col("chrom") % 2 === 0, lit("+")).otherwise(lit("-")))
        val w = lit(600L)
        iv.select(col("chrom"), col("strand"),
            when(col("strand") === "+", greatest(col("s") - w, lit(0L)))
              .otherwise(col("e") + 1).as("fs"),
            when(col("strand") === "+", col("s") - 1)
              .otherwise(col("e") + w).as("fe"))
          .where(col("fe") >= col("fs"))
          .groupBy("chrom", "strand")
          .agg(count(lit(1)).as("n_flanks"),
            sum(col("fe") - col("fs") + 1).as("bases"),
            min(col("fs")).as("min_start"),
            max(col("fe")).as("max_end"))
          .orderBy("chrom")
      },
      Some("""WITH iv AS (
          SELECT user_id % 16 AS chrom,
            CASE WHEN user_id % 2 = 0 THEN '+' ELSE '-' END AS strand,
            epoch_us(ts) // 1000000 AS s,
            epoch_us(ts) // 1000000 + 1800 AS e
          FROM events WHERE event_type = 'click'),
        fl AS (
          SELECT chrom, strand,
            CASE WHEN strand = '+' THEN greatest(s - 600, 0) ELSE e + 1 END AS fs,
            CASE WHEN strand = '+' THEN s - 1 ELSE e + 600 END AS fe
          FROM iv)
        SELECT chrom, strand, count(*) AS n_flanks,
          CAST(sum(fe - fs + 1) AS BIGINT) AS bases, min(fs) AS min_start, max(fe) AS max_end
        FROM fl WHERE fe >= fs
        GROUP BY chrom, strand ORDER BY chrom""")),

    // ---- equi-width numeric histogram (events.value) ----
    // The profiling primitive behind every data-quality dashboard: fixed
    // 25-unit bins over a double measure, count + exact centi-sum per
    // bin. The sum runs on round(value*100) integers, not doubles —
    // float summation order is partition-dependent and the oracle hash
    // is exact, so the bin sums must be associative integers (the same
    // centi-unit discipline the pricing entries use). One map-side-
    // combined agg at bin cardinality (~20 groups).
    "rel_value_histogram" -> Q(
      (s, dir) => Q.t(s, dir, "events")
        .where(col("value").isNotNull)
        .groupBy(floor(col("value") / 25).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value * 100) as bigint)")).as("centi_sum"),
          expr("cast(round(min(value) * 100) as bigint)").as("centi_min"),
          expr("cast(round(max(value) * 100) as bigint)").as("centi_max"))
        .orderBy("bin"),
      Some("""SELECT CAST(floor(value / 25) AS BIGINT) AS bin, count(*) AS n,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS centi_sum,
          CAST(round(min(value) * 100) AS BIGINT) AS centi_min,
          CAST(round(max(value) * 100) AS BIGINT) AS centi_max
        FROM events WHERE value IS NOT NULL
        GROUP BY bin ORDER BY bin""")),

    // ---- time-series gap fill (LOCF over an hourly spine) ----
    // Metric stores forward-fill missing buckets before charting or
    // joining: build the hour spine from ONE 1-row min/max aggregate
    // (never a global window), left-join the actual hourly centi-sums,
    // and carry the last observation forward per event_type with a
    // bounded-partition window (types are few; hours are the sort key).
    // Leading hours before a type's first observation stay NULL — a
    // fill would fabricate data. Integer centi-sums keep the hash
    // exact; is_gap marks fabricated rows for the consumer.
    "rel_time_gap_fill" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val a = eventsTs(s, dir).where(col("value").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 1000000 div 3600").as("h"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("centi"))
        val mm = a.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        val spine = a.select("event_type").distinct()
          .crossJoin(broadcast(mm))
          .selectExpr("event_type", "explode(sequence(h0, h1)) AS h")
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(a, Seq("event_type", "h"), "left")
          .withColumn("centi_filled", last(col("centi"), ignoreNulls = true).over(w))
          .selectExpr("event_type", "h", "centi_filled",
            "centi IS NULL AS is_gap")
          .orderBy("event_type", "h")
      },
      Some("""WITH a AS (
          SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS h,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS centi
          FROM events WHERE value IS NOT NULL GROUP BY event_type, h),
        b AS (SELECT min(h) AS h0, max(h) AS h1 FROM a),
        spine AS (
          -- DuckDB range() takes only constant bounds: over-generate
          -- and clip to the observed span. If the observed span ever
          -- exceeds the over-generation bound, fail LOUDLY instead of
          -- silently truncating the spine (a false-red trap at a
          -- wider-timestamp tier).
          SELECT t.event_type, b.h0 + r.i AS h
          FROM (SELECT DISTINCT event_type FROM a) t, b,
            range(0, 200000) r(i)
          WHERE r.i <= b.h1 - b.h0
            AND CASE WHEN b.h1 - b.h0 >= 200000
              THEN error('gap_fill oracle spine bound exceeded: raise range()')
              ELSE TRUE END),
        j AS (SELECT s.event_type, s.h, a.centi
          FROM spine s LEFT JOIN a ON s.event_type = a.event_type AND s.h = a.h)
        SELECT event_type, h,
          last_value(centi IGNORE NULLS) OVER (PARTITION BY event_type
            ORDER BY h ROWS UNBOUNDED PRECEDING) AS centi_filled,
          centi IS NULL AS is_gap
        FROM j ORDER BY event_type, h""")),

    // ---- 3-sigma hourly anomaly flags, EXACT ----
    // The monitoring primitive, with the float hazard removed: the
    // z-score test |v - mean| > 3*sigma is equivalent to the pure
    // integer comparison (H*v - S)^2 > 9*(H*Q - S^2) over centi-sums
    // (S = sum v, Q = sum v^2, H = hours) — multiply through by H^2,
    // never divide — so distributed order cannot flap a flag bit. Per
    // type the stats row is ONE 9-row aggregate broadcast back onto
    // the hourly frame: map-side second pass, no second shuffle of
    // the hours. The squared deviation (H*v - S)^2 can reach ~4e19 —
    // past int64 — inside the H*v < ~3e9 envelope, so the comparison
    // runs in DECIMAL(38,0) on the Spark side and HUGEINT in the
    // oracle (boolean output only; no wide type reaches the gate).
    "rel_anomaly_hours" -> Q(
      (s, dir) => {
        val a = eventsTs(s, dir).where(col("value").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 1000000 div 3600").as("h"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
        val stats = a.groupBy("event_type")
          .agg(count(lit(1)).as("hn"), sum(col("v")).as("sv"),
            sum(col("v") * col("v")).as("svv"))
        a.join(broadcast(stats), Seq("event_type"))
          .selectExpr("event_type", "h", "v",
            """(CAST(hn AS DECIMAL(38,0)) * v - sv)
                 * (CAST(hn AS DECIMAL(38,0)) * v - sv)
               > 9 * (CAST(hn AS DECIMAL(38,0)) * svv
                      - CAST(sv AS DECIMAL(38,0)) * sv)
               AS is_anomaly""")
          .orderBy("event_type", "h")
      },
      Some("""WITH a AS (
          SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS h,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL GROUP BY event_type, h),
        st AS (
          SELECT event_type, count(*) AS hn, CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(v * v) AS BIGINT) AS svv
          FROM a GROUP BY event_type)
        SELECT a.event_type, a.h, a.v,
          (CAST(st.hn AS HUGEINT) * a.v - st.sv)
            * (CAST(st.hn AS HUGEINT) * a.v - st.sv)
            > 9 * (CAST(st.hn AS HUGEINT) * st.svv
                   - CAST(st.sv AS HUGEINT) * st.sv) AS is_anomaly
        FROM a JOIN st ON a.event_type = st.event_type
        ORDER BY a.event_type, a.h""")),

    // ---- exact weighted median per group ----
    // The robust-center statistic dashboards want when rows carry
    // unequal mass: the smallest value whose cumulative weight reaches
    // half the total. Values are centi-integers and the threshold test
    // is 2·cum >= total — no halving division, so ties cannot flap the
    // answer. Scale shape (ScaleProbe-caught: the naive per-ROW window
    // measured alpha ~ 1.0 at 10M events — a per-type window over raw
    // rows has only type-cardinality parallelism): weights COLLAPSE to
    // one row per (type, value) first, so the ordered window runs over
    // value-cardinality (~20k centi values) per type no matter how
    // many raw rows feed it — the same histogram-first trick exact
    // percentile services use.
    "rel_weighted_median" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val a = eventsTs(s, dir).where(col("value").isNotNull)
          .selectExpr("event_type",
            "cast(round(value * 100) as bigint) AS v",
            "user_id % 5 + 1 AS w")
          .groupBy("event_type", "v")
          .agg(sum(col("w")).as("w"))
        val tot = a.groupBy("event_type").agg(sum(col("w")).as("tw"))
        val win = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        a.withColumn("cum", sum(col("w")).over(win))
          .join(broadcast(tot), Seq("event_type"))
          .where(col("cum") * 2 >= col("tw"))
          .groupBy("event_type")
          .agg(min(col("v")).as("w_median_centi"),
            first(col("tw")).as("total_weight"))
          .orderBy("event_type")
      },
      Some("""WITH a AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
            user_id % 5 + 1 AS w
          FROM events WHERE value IS NOT NULL),
        t AS (SELECT event_type, CAST(sum(w) AS BIGINT) AS tw
          FROM a GROUP BY event_type),
        c AS (
          SELECT a.event_type, a.v, t.tw,
            sum(a.w) OVER (PARTITION BY a.event_type ORDER BY a.v
              ROWS UNBOUNDED PRECEDING) AS cum
          FROM a JOIN t ON a.event_type = t.event_type)
        SELECT event_type, CAST(min(v) AS BIGINT) AS w_median_centi,
          CAST(min(tw) AS BIGINT) AS total_weight
        FROM c WHERE cum * 2 >= tw
        GROUP BY event_type ORDER BY event_type""")),

    // ---- Herfindahl-Hirschman concentration per segment ----
    // The antitrust/portfolio concentration index: HHI = Σ share² over
    // per-customer revenue within a market segment, in exact ppm.
    // Σc² exceeds int64 at this cardinality (c ~ 1e7 centi, 1500
    // customers → Σc²·1e6 ~ 1e23), so the products run in
    // DECIMAL(38,0) — the same widening discipline hudsonFst uses —
    // and only the final ≤1e6 ppm value casts back to BIGINT. The
    // customer dimension broadcasts onto orders; two keyed aggs.
    "rel_hhi_by_segment" -> Q(
      (s, dir) => {
        val cust = Q.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val rev = Q.t(s, dir, "orders")
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("o_custkey"))
          .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("c"))
        rev.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))")).as("sq"),
            sum(expr("CAST(c AS DECIMAL(38,0))")).as("tot"))
          .selectExpr("c_mktsegment", "n_customers",
            "CAST((1000000 * sq) div (tot * tot) AS BIGINT) AS hhi_ppm")
          .orderBy("c_mktsegment")
      },
      Some("""WITH rev AS (
          SELECT c.c_mktsegment, o.o_custkey,
            CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment, o.o_custkey)
        SELECT c_mktsegment, count(*) AS n_customers,
          CAST((1000000 * sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)))
            // (sum(CAST(c AS HUGEINT)) * sum(CAST(c AS HUGEINT))) AS BIGINT)
            AS hhi_ppm
        FROM rev GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- power-of-two value buckets (latency-histogram convention) ----
    // Monitoring systems bucket by floor(log2) because tails span
    // decades; the bucket index here is length(bin(v)) — the integer
    // bit-length, identical in both engines, no floating log anywhere.
    "rel_log2_histogram" -> Q(
      (s, dir) => Q.t(s, dir, "events")
        .where(col("value").isNotNull)
        .selectExpr("cast(round(value * 100) as bigint) AS v")
        .where(col("v") >= 1)
        .groupBy(expr("length(bin(v))").as("bit_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("centi_sum"))
        .orderBy("bit_bucket"),
      Some("""WITH a AS (
          SELECT CAST(round(value * 100) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL)
        SELECT CAST(length(bin(v)) AS INTEGER) AS bit_bucket, count(*) AS n,
          CAST(sum(v) AS BIGINT) AS centi_sum
        FROM a WHERE v >= 1
        GROUP BY bit_bucket ORDER BY bit_bucket""")),

    // ---- CUSUM changepoint per series, EXACT ----
    // Where did the level shift? The CUSUM statistic argmax_k
    // |cum_k − k·mean| picks it; multiplying through by H makes it the
    // integer |H·cum_k − k·S| — no mean, no division, so the argmax
    // (ties to the earliest hour via max(struct(dev, −h))) is
    // partition-order-proof. One type-keyed window over the hourly
    // frame + the 9-row totals broadcast — the same two-pass shape as
    // the anomaly entry, composing with it into a monitoring suite.
    "rel_cusum_changepoint" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val a = eventsTs(s, dir).where(col("value").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 1000000 div 3600").as("h"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
        val tot = a.groupBy("event_type")
          .agg(count(lit(1)).as("hn"), sum(col("v")).as("sv"))
        val win = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        a.withColumn("cum", sum(col("v")).over(win))
          .withColumn("k", expr(
            "row_number() OVER (PARTITION BY event_type ORDER BY h)"))
          .join(broadcast(tot), Seq("event_type"))
          .selectExpr("event_type", "h",
            "abs(hn * cum - k * sv) AS dev")
          .groupBy("event_type")
          .agg(max(struct(col("dev"), (-col("h")).as("nh"))).as("best"))
          .selectExpr("event_type", "-best.nh AS change_h",
            "best.dev AS dev_scaled")
          .orderBy("event_type")
      },
      Some("""WITH a AS (
          SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS h,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL GROUP BY event_type, h),
        t AS (SELECT event_type, count(*) AS hn, CAST(sum(v) AS BIGINT) AS sv
          FROM a GROUP BY event_type),
        c AS (
          SELECT a.event_type, a.h,
            abs(t.hn * sum(a.v) OVER (PARTITION BY a.event_type ORDER BY a.h
                  ROWS UNBOUNDED PRECEDING)
              - (row_number() OVER (PARTITION BY a.event_type ORDER BY a.h))
                * t.sv) AS dev
          FROM a JOIN t ON a.event_type = t.event_type)
        SELECT event_type,
          CAST(min(h) FILTER (WHERE dev = md) AS BIGINT) AS change_h,
          CAST(min(md) AS BIGINT) AS dev_scaled
        FROM (SELECT event_type, h, dev,
                max(dev) OVER (PARTITION BY event_type) AS md FROM c)
        GROUP BY event_type ORDER BY event_type""")),

    // ---- Bollinger band breaks (rolling 24h 2-sigma), EXACT ----
    // The trading-chart primitive generalizes to any metric stream:
    // flag hours outside mean ± 2σ of their own TRAILING 24h window.
    // Same integer discipline as rel_anomaly_hours — |v−S/N| > 2σ
    // multiplied through by N² is (N·v−S)² > 4(N·Q−S²) — but over a
    // ROLLING frame (ROWS 23 PRECEDING), so the stats travel with the
    // window instead of a broadcast: one type-partitioned window pass,
    // three running sums, no second shuffle. The square runs in
    // DECIMAL(38,0)/HUGEINT so it cannot wrap int64.
    "rel_bollinger_bands" -> Q(
      (s, dir) => {
        val a = eventsTs(s, dir).where(col("value").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 1000000 div 3600").as("h"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
        val w24 = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(-23, Window.currentRow)
        a.withColumn("cn", count(lit(1)).over(w24))
          .withColumn("sv", sum(col("v")).over(w24))
          // v² widened at the source: the product itself can wrap int64
          // before the band-test widening applies (DuckDB's sum already
          // accumulates HUGEINT; this matches the envelope)
          .withColumn("svv",
            sum(expr("CAST(v AS DECIMAL(38,0)) * v")).over(w24))
          .selectExpr("event_type", "h", "v", "cn AS window_n",
            """(CAST(cn AS DECIMAL(38,0)) * v - sv)
                 * (CAST(cn AS DECIMAL(38,0)) * v - sv)
               > 4 * (CAST(cn AS DECIMAL(38,0)) * svv
                      - CAST(sv AS DECIMAL(38,0)) * sv) AS is_band_break""")
          .orderBy("event_type", "h")
      },
      Some("""WITH a AS (
          SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS h,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL GROUP BY event_type, h),
        r AS (
          SELECT event_type, h, v,
            count(*) OVER w AS cn, sum(v) OVER w AS sv,
            sum(CAST(v AS HUGEINT) * v) OVER w AS svv
          FROM a WINDOW w AS (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        SELECT event_type, h, v, CAST(cn AS BIGINT) AS window_n,
          (CAST(cn AS HUGEINT) * v - sv) * (CAST(cn AS HUGEINT) * v - sv)
            > 4 * (CAST(cn AS HUGEINT) * svv - CAST(sv AS HUGEINT) * sv)
            AS is_band_break
        FROM r ORDER BY event_type, h""")),

    // ---- seasonal-naive forecast error (lag-24 MAE), EXACT ----
    // The baseline every forecasting system must beat: predict each
    // hour with the same hour yesterday and score |v − v_{h−24}| in
    // integer centi. lag(24) is ONE type-partitioned ordered window
    // (hour cardinality per type), the MAE rollup one keyed agg —
    // note lag is ROW-based (24 observed hours back), the convention
    // seasonal-naive uses on regularly-bucketed series.
    "rel_seasonal_naive_error" -> Q(
      (s, dir) => {
        val a = eventsTs(s, dir).where(col("value").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 1000000 div 3600").as("h"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
        val w = Window.partitionBy("event_type").orderBy("h")
        a.withColumn("f", lag(col("v"), 24).over(w))
          .where(col("f").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_forecasts"),
            sum(abs(col("v") - col("f"))).as("abs_err_sum"))
          .selectExpr("event_type", "n_forecasts", "abs_err_sum",
            "abs_err_sum div n_forecasts AS mae_centi")
          .orderBy("event_type")
      },
      Some("""WITH a AS (
          SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS h,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL GROUP BY event_type, h),
        l AS (
          SELECT event_type, v,
            lag(v, 24) OVER (PARTITION BY event_type ORDER BY h) AS f
          FROM a)
        SELECT event_type, count(*) AS n_forecasts,
          CAST(sum(abs(v - f)) AS BIGINT) AS abs_err_sum,
          CAST(sum(abs(v - f)) // count(*) AS BIGINT) AS mae_centi
        FROM l WHERE f IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),

    // ---- Benford first-digit census ----
    // The fraud/data-quality screen: leading-digit distribution of the
    // positive centi values. The digit is a string head — identical in
    // both engines, no log10 — and the share joins the 1-row total
    // back by broadcast; everything else is one 9-group partial agg.
    "rel_benford_first_digit" -> Q(
      (s, dir) => {
        val d = eventsTs(s, dir).where(col("value").isNotNull)
          .selectExpr("cast(round(value * 100) as bigint) AS v")
          .where(col("v") >= 1)
          .selectExpr("cast(substring(cast(v as string), 1, 1) as int) AS digit")
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = d.agg(sum(col("n")).as("total"))
        d.crossJoin(broadcast(tot))
          .selectExpr("digit", "n", "1000000 * n div total AS share_micro")
          .orderBy("digit")
      },
      Some("""WITH v AS (
          SELECT CAST(round(value * 100) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL),
        d AS (
          SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
            count(*) AS n
          FROM v WHERE v >= 1 GROUP BY digit),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d)
        SELECT digit, n,
          CAST(1000000 * n // total AS BIGINT) AS share_micro
        FROM d, t ORDER BY digit""")),

    // ---- up-run census (runs-test ingredient), EXACT ----
    // How streaky is each series? Maximal runs of strictly-increasing
    // consecutive hourly diffs, via the gaps-islands identity
    // (rn_all − rn_by_class is constant within an island — pure
    // integer, partition-order-proof). Two type-partitioned windows
    // over the hourly frame, then one keyed island rollup; zero-diff
    // hours break runs (class 'Z'), the first hour has no diff and is
    // excluded on both sides.
    "rel_sign_runs" -> Q(
      (s, dir) => {
        val a = eventsTs(s, dir).where(col("value").isNotNull)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 1000000 div 3600").as("h"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
        val w = Window.partitionBy("event_type").orderBy("h")
        val d = a.withColumn("pd", col("v") - lag(col("v"), 1).over(w))
          .where(col("pd").isNotNull)
          .selectExpr("event_type", "h",
            "CASE WHEN pd > 0 THEN 'U' WHEN pd < 0 THEN 'D' ELSE 'Z' END AS cls")
        val isl = d
          .withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy("h")))
          .withColumn("rc", row_number().over(
            Window.partitionBy("event_type", "cls").orderBy("h")))
          .selectExpr("event_type", "cls", "rn - rc AS island")
        isl.groupBy("event_type", "cls", "island")
          .agg(count(lit(1)).as("len"))
          .groupBy("event_type")
          .agg(sum(col("len")).as("n_diffs"),
            sum(when(col("cls") === "U", 1L).otherwise(0L)).as("n_up_runs"),
            max(when(col("cls") === "U", col("len")).otherwise(0L)).as("longest_up_run"))
          .orderBy("event_type")
      },
      Some("""WITH a AS (
          SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS h,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL GROUP BY event_type, h),
        d AS (
          SELECT event_type, h,
            CASE WHEN pd > 0 THEN 'U' WHEN pd < 0 THEN 'D' ELSE 'Z' END AS cls
          FROM (SELECT event_type, h,
              v - lag(v, 1) OVER (PARTITION BY event_type ORDER BY h) AS pd
            FROM a)
          WHERE pd IS NOT NULL),
        i AS (
          SELECT event_type, cls,
            row_number() OVER (PARTITION BY event_type ORDER BY h)
              - row_number() OVER (PARTITION BY event_type, cls ORDER BY h)
              AS island
          FROM d),
        g AS (SELECT event_type, cls, island, count(*) AS len
          FROM i GROUP BY event_type, cls, island)
        SELECT event_type, CAST(sum(len) AS BIGINT) AS n_diffs,
          CAST(sum(CASE WHEN cls = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_up_runs,
          CAST(max(CASE WHEN cls = 'U' THEN len ELSE 0 END) AS BIGINT) AS longest_up_run
        FROM g GROUP BY event_type ORDER BY event_type""")),

    // ---- cross-metric rate correlation (click vs purchase), EXACT ----
    // "Do purchases track clicks hour by hour?" — Pearson r over the
    // two hourly COUNT series, emitted as SIGNED r² in micro fixed
    // point: r² = cov²/(varx·vary) needs no square root, and
    // n-multiplied integer forms (n·Σxy − ΣxΣy etc.) never divide
    // early. Counts (not centi sums) keep cov² inside DECIMAL(38,0)
    // at any plausible tier. Two hourly aggs meet on the hour key —
    // hour cardinality, then one 1-row reduce.
    "rel_rate_correlation" -> Q(
      (s, dir) => {
        val ev = eventsTs(s, dir)
        def hourly(et: String, c: String) = ev
          .where(col("event_type") === et)
          .groupBy(expr("unix_micros(ts) div 1000000 div 3600").as("h"))
          .agg(count(lit(1)).as(c))
        hourly("click", "x").join(hourly("purchase", "y"), Seq("h"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .selectExpr("n",
            // cov_num and the sign test widen like the quotient: n*sxy
            // wraps int64 at large tiers, so compute in DECIMAL(38,0)
            // and cast only the final cov_num back to BIGINT
            """CAST(CAST(n AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0)) * sy AS BIGINT) AS cov_num""",
            """CAST(IF(CAST(n AS DECIMAL(38,0)) * sxy
                       - CAST(sx AS DECIMAL(38,0)) * sy < 0, -1, 1)
                 * ((1000000 * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
                              * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy))
                    div ((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                         * (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)))
               AS BIGINT) AS r2_signed_micro""")
      },
      Some("""WITH cx AS (SELECT epoch_us(ts) // 1000000 // 3600 AS h, count(*) AS x
          FROM events WHERE event_type = 'click' GROUP BY h),
        cy AS (SELECT epoch_us(ts) // 1000000 // 3600 AS h, count(*) AS y
          FROM events WHERE event_type = 'purchase' GROUP BY h),
        a AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
            CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
          FROM cx JOIN cy ON cx.h = cy.h)
        SELECT n,
          CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
            AS BIGINT) AS cov_num,
          CAST(CASE WHEN CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * sy < 0 THEN -1 ELSE 1 END
            * ((1000000 * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                         * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy))
               // ((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                  * (CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy)))
            AS BIGINT) AS r2_signed_micro
        FROM a""")),

    // ---- daily-seasonality autocorrelation (lag-24 rate), EXACT ----
    // The rhythm detector behind the seasonal-naive baseline: Pearson
    // r between each type's hourly count series and its own lag-24
    // self, as signed r² micro — same n-multiplied integer parts and
    // DECIMAL(38,0)/HUGEINT products as rel_rate_correlation, one
    // type-partitioned lag window + one keyed reduce.
    "rel_daily_autocorr" -> Q(
      (s, dir) => {
        val a = eventsTs(s, dir)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 1000000 div 3600").as("h"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy("event_type").orderBy("h")
        a.withColumn("y", lag(col("x"), 24).over(w))
          .where(col("y").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .selectExpr("event_type", "n",
            // sign test widened with the quotient (n*sxy wraps int64)
            """CAST(IF(CAST(n AS DECIMAL(38,0)) * sxy
                       - CAST(sx AS DECIMAL(38,0)) * sy < 0, -1, 1)
                 * ((1000000 * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
                              * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy))
                    div ((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                         * (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)))
               AS BIGINT) AS r2_signed_micro""")
          .orderBy("event_type")
      },
      Some("""WITH a AS (
          SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS h,
            count(*) AS x
          FROM events GROUP BY event_type, h),
        l AS (SELECT event_type, x,
            lag(x, 24) OVER (PARTITION BY event_type ORDER BY h) AS y
          FROM a),
        g AS (SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
            CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
          FROM l WHERE y IS NOT NULL GROUP BY event_type)
        SELECT event_type, n,
          CAST(CASE WHEN CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * sy < 0 THEN -1 ELSE 1 END
            * ((1000000 * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                         * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy))
               // ((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                  * (CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy)))
            AS BIGINT) AS r2_signed_micro
        FROM g ORDER BY event_type""")),

    // ---- inter-arrival profile per event type, EXACT ----
    // The traffic-shape census capacity planning reads: microsecond
    // gaps between consecutive events of a type, with (ts, event_id)
    // as the sort key so duplicate timestamps cannot flap the lag.
    // One type-partitioned ordered window + one keyed agg; mean stays
    // an integer division, long-gap counts use a 1-hour threshold.
    "rel_inter_arrival" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("us").asc, col("event_id").asc)
        eventsTs(s, dir)
          .selectExpr("event_type", "event_id", "unix_micros(ts) AS us")
          .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
          .where(col("gap").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("gap_sum_us"),
            max(col("gap")).as("max_gap_us"),
            sum(when(col("gap") > 3600L * 1000000L, 1L).otherwise(0L))
              .as("n_gaps_over_1h"))
          .selectExpr("event_type", "n_gaps", "gap_sum_us", "max_gap_us",
            "n_gaps_over_1h", "gap_sum_us div n_gaps AS mean_gap_us")
          .orderBy("event_type")
      },
      Some("""WITH a AS (
          SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
        l AS (SELECT event_type,
            us - lag(us, 1) OVER (PARTITION BY event_type
              ORDER BY us ASC, event_id ASC) AS gap
          FROM a)
        SELECT event_type, count(*) AS n_gaps,
          CAST(sum(gap) AS BIGINT) AS gap_sum_us,
          CAST(max(gap) AS BIGINT) AS max_gap_us,
          CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_gaps_over_1h,
          CAST(sum(gap) // count(*) AS BIGINT) AS mean_gap_us
        FROM l WHERE gap IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),

    // ---- chi-square independence + Cramer's V, EXACT ----
    // Is event_type independent of the value band? The classic
    // contingency test, kept integer-exact by rewriting
    // chi2 = N * sum(O^2/(RT*CT)) - N with a fixed internal scale S=1e12
    // and per-cell integer division, so both engines truncate the same
    // way at the same step. Widths: O^2*S <= 1e28 at sf10 (N=1e8) and
    // N*sum(term) <= ~1e21, both inside DECIMAL(38,0)/HUGEINT. Shape: one
    // keyed agg builds the cells, the row/column marginals are
    // re-aggregations of the CELL frame (cells = types x bands, a few
    // dozen rows — never a second corpus pass), broadcast back on.
    "rel_chi_square" -> Q(
      (s, dir) => {
        val e = eventsTs(s, dir).selectExpr("event_type",
          """CASE WHEN value < 10 THEN 'low'
                  WHEN value < 100 THEN 'mid' ELSE 'high' END AS band""")
        val cells = e.groupBy("event_type", "band")
          .agg(count(lit(1)).as("o"))
        val rt = cells.groupBy("event_type").agg(sum(col("o")).as("rt"))
        val ct = cells.groupBy("band").agg(sum(col("o")).as("ct"))
        val tot = cells.agg(sum(col("o")).as("n"),
          countDistinct(col("event_type")).as("r"),
          countDistinct(col("band")).as("c"))
        cells.join(broadcast(rt), Seq("event_type"))
          .join(broadcast(ct), Seq("band"))
          .crossJoin(broadcast(tot))
          .selectExpr("n", "r", "c",
            """(CAST(o AS DECIMAL(38,0)) * o * 1000000000000)
                 div (CAST(rt AS DECIMAL(38,0)) * ct) AS term""")
          .groupBy("n", "r", "c").agg(sum(col("term")).as("term_sum"),
            count(lit(1)).as("n_cells"))
          .selectExpr("n", "n_cells", "(r - 1) * (c - 1) AS dof",
            """CAST((CAST(n AS DECIMAL(38,0)) * term_sum
                     - CAST(n AS DECIMAL(38,0)) * 1000000000000) * 1000000
                    div 1000000000000 AS BIGINT) AS chi2_micro""",
            """CAST(((CAST(n AS DECIMAL(38,0)) * term_sum
                      - CAST(n AS DECIMAL(38,0)) * 1000000000000) * 1000000
                     div 1000000000000)
                    div (n * IF(r < c, r - 1, c - 1)) AS BIGINT)
               AS cramers_v2_micro""")
      },
      Some("""WITH e AS (SELECT event_type,
            CASE WHEN value < 10 THEN 'low'
                 WHEN value < 100 THEN 'mid' ELSE 'high' END AS band
          FROM events),
        cells AS (SELECT event_type, band, count(*) AS o
          FROM e GROUP BY event_type, band),
        rt AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY event_type),
        ct AS (SELECT band, sum(o) AS ct FROM cells GROUP BY band),
        tot AS (SELECT sum(o) AS n, count(DISTINCT event_type) AS r,
            count(DISTINCT band) AS c
          FROM cells),
        terms AS (SELECT n, r, c,
            (CAST(o AS HUGEINT) * o * 1000000000000)
              // (CAST(rt AS HUGEINT) * ct) AS term
          FROM cells JOIN rt USING (event_type) JOIN ct USING (band), tot),
        g AS (SELECT n, r, c, sum(term) AS term_sum, count(*) AS n_cells
          FROM terms GROUP BY n, r, c)
        SELECT CAST(n AS BIGINT) AS n, n_cells,
          CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
          CAST((CAST(n AS HUGEINT) * term_sum
                - CAST(n AS HUGEINT) * 1000000000000) * 1000000
               // 1000000000000 AS BIGINT) AS chi2_micro,
          CAST(((CAST(n AS HUGEINT) * term_sum
                 - CAST(n AS HUGEINT) * 1000000000000) * 1000000
                // 1000000000000)
               // (n * CASE WHEN r < c THEN r - 1 ELSE c - 1 END) AS BIGINT)
            AS cramers_v2_micro
        FROM g""")),

    // ---- Kendall tau-b concordance, EXACT ----
    // Do daily shipped quantity and daily revenue move together? Tau on
    // the PRE-AGGREGATED daily series (one 1996 year per returnflag,
    // ~365 points each): the corpus pass is a single keyed agg; the
    // O(n^2) pair stage runs on that tiny frame via a broadcast
    // self-join, so at 100 TB the pair space is fixed by the calendar,
    // not the row count. Concordant/discordant counts are integers; the
    // quotient extracts the sign first so both engines divide
    // non-negatives (Spark div truncates toward zero, DuckDB // floors —
    // they only agree on non-negative operands).
    "rel_kendall_tau" -> Q(
      (s, dir) => {
        val d = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01 00:00:00") &&
            col("l_shipdate") < lit("1997-01-01 00:00:00"))
          .groupBy(col("l_returnflag").as("rf"),
            to_date(col("l_shipdate")).as("day"))
          .agg(sum(col("l_quantity").cast("bigint")).as("x"),
            sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("y"))
        val a = d.select(col("rf"), col("day").as("d1"),
          col("x").as("x1"), col("y").as("y1"))
        val b = d.select(col("rf").as("rf2"), col("day").as("d2"),
          col("x").as("x2"), col("y").as("y2"))
        a.join(broadcast(b), col("rf") === col("rf2") && col("d1") < col("d2"))
          .groupBy("rf")
          .agg(
            sum(expr("""IF((x2 > x1 AND y2 > y1) OR (x2 < x1 AND y2 < y1),
                1L, 0L)""")).as("nc"),
            sum(expr("""IF((x2 > x1 AND y2 < y1) OR (x2 < x1 AND y2 > y1),
                1L, 0L)""")).as("nd"),
            count(lit(1)).as("n_pairs"))
          .selectExpr("rf", "n_pairs", "nc", "nd",
            """IF(nc - nd < 0, -1, 1)
                 * (1000 * abs(nc - nd) div n_pairs) AS tau_milli""")
          .orderBy("rf")
      },
      Some("""WITH d AS (SELECT l_returnflag AS rf,
            CAST(l_shipdate AS DATE) AS day,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
              AS y
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY rf, day),
        p AS (SELECT a.rf,
            CAST(sum(CASE WHEN (b.x > a.x AND b.y > a.y)
                            OR (b.x < a.x AND b.y < a.y) THEN 1 ELSE 0 END)
              AS BIGINT) AS nc,
            CAST(sum(CASE WHEN (b.x > a.x AND b.y < a.y)
                            OR (b.x < a.x AND b.y > a.y) THEN 1 ELSE 0 END)
              AS BIGINT) AS nd,
            count(*) AS n_pairs
          FROM d a JOIN d b ON a.rf = b.rf AND a.day < b.day
          GROUP BY a.rf)
        SELECT rf, n_pairs, nc, nd,
          CAST(CASE WHEN nc - nd < 0 THEN -1 ELSE 1 END
               * (1000 * abs(nc - nd) // n_pairs) AS BIGINT) AS tau_milli
        FROM p ORDER BY rf""")),

    // ---- Mann-Kendall trend test, EXACT ----
    // Monotone-trend S statistic over each type's daily value series,
    // with the tie-corrected variance numerator (x18, kept rational).
    // Same scale shape as rel_kendall_tau: the corpus collapses to
    // (type, day) in one keyed agg — 30 days here, bounded by the
    // calendar at any corpus size — and the pair stage broadcasts that
    // frame. S is a signed sum of sign() terms, integer by construction.
    "rel_mann_kendall" -> Q(
      (s, dir) => {
        val d = eventsTs(s, dir)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("v"))
        val a = d.select(col("event_type"), col("day").as("d1"),
          col("v").as("v1"))
        val b = d.select(col("event_type").as("et2"), col("day").as("d2"),
          col("v").as("v2"))
        val sStat = a.join(broadcast(b),
            col("event_type") === col("et2") && col("d1") < col("d2"))
          .groupBy("event_type")
          .agg(sum(expr("IF(v2 > v1, 1L, IF(v2 < v1, -1L, 0L))")).as("s_stat"),
            count(lit(1)).as("n_pairs"))
        // tie correction: sum t(t-1)(2t+5) over groups of equal v
        val ties = d.groupBy("event_type", "v").agg(count(lit(1)).as("tc"))
          .groupBy("event_type")
          .agg(sum(expr("tc * (tc - 1) * (2 * tc + 5)")).as("tie18"),
            count(lit(1)).as("n_days"))
        sStat.join(broadcast(ties), Seq("event_type"))
          .selectExpr("event_type", "n_days", "n_pairs", "s_stat",
            "n_days * (n_days - 1) * (2 * n_days + 5) - tie18 AS var18")
          .orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
            CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v
          FROM events GROUP BY event_type, day),
        p AS (SELECT a.event_type,
            CAST(sum(CASE WHEN b.v > a.v THEN 1
                          WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
              AS s_stat,
            count(*) AS n_pairs
          FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
          GROUP BY a.event_type),
        t AS (SELECT event_type,
            CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie18,
            count(*) AS n_days
          FROM (SELECT event_type, v, count(*) AS tc
                FROM d GROUP BY event_type, v)
          GROUP BY event_type)
        SELECT event_type, n_days, n_pairs, s_stat,
          CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie18 AS BIGINT)
            AS var18
        FROM p JOIN t USING (event_type) ORDER BY event_type""")),

    // ---- EWMA snapshot (alpha = 1/2), EXACT ----
    // The "what is the smoothed rate RIGHT NOW" gauge: exponentially
    // weighted hourly value mass per type over the trailing 16 hours,
    // with binary weights 2^(15-age) so the whole thing stays integer —
    // ewma = sum(v * 2^(15-age)) / (2^16 - 1). A windowed formulation
    // would need a per-(row, element) weight, which no windowed sum
    // expresses; anchoring to each type's max hour makes it one keyed
    // agg + a broadcast join of the 5-row anchor frame. Widths: hourly
    // micro mass <= ~1e10 at sf10, x 2^15 x 16 terms < 2^63.
    "rel_ewma_snapshot" -> Q(
      (s, dir) => {
        val hourly = eventsTs(s, dir)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("h"))
          .agg(sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("v"))
        val anchor = hourly.groupBy(col("event_type").as("et2"))
          .agg(max(col("h")).as("hmax"))
        hourly.join(broadcast(anchor), col("event_type") === col("et2"))
          .where(col("hmax") - col("h") <= 15)
          .selectExpr("event_type", "v",
            "shiftleft(1L, CAST(15 - (hmax - h) AS INT)) AS w")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_hours"), sum(expr("v * w")).as("wsum"))
          .selectExpr("event_type", "n_hours",
            "wsum div 65535 AS ewma_micro")
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (SELECT event_type,
            epoch_us(ts) // 3600000000 AS h,
            CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v
          FROM events GROUP BY event_type, h),
        anchor AS (SELECT event_type, max(h) AS hmax
          FROM hourly GROUP BY event_type),
        wgt AS (SELECT event_type, v,
            (CAST(1 AS BIGINT) << CAST(15 - (hmax - h) AS INT)) AS w
          FROM hourly JOIN anchor USING (event_type)
          WHERE hmax - h <= 15)
        SELECT event_type, count(*) AS n_hours,
          CAST(sum(v * w) // 65535 AS BIGINT) AS ewma_micro
        FROM wgt GROUP BY event_type ORDER BY event_type""")),

    // ---- winsorized mean (p05/p95 clamp), EXACT ----
    // The robust-mean gauge outlier-heavy telemetry wants. Both engines
    // disagree on percentile_disc boundary semantics, so the clamp
    // bounds are defined arithmetically instead: the ceil(n*p)-th
    // smallest value by row_number — deterministic regardless of tie
    // order because position k's VALUE is unique even when its row is
    // not. The rank window partitions by type (parallel across types);
    // the 2-row-per-type bound frame broadcasts back onto the stream.
    "rel_winsorized_mean" -> Q(
      (s, dir) => {
        val e = eventsTs(s, dir).selectExpr("event_type",
          "CAST(round(value * 1000000) AS BIGINT) AS v")
        val w = Window.partitionBy("event_type").orderBy("v")
        val ranked = e.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        val bounds = ranked
          .where(col("rn") === expr("(n * 5 + 99) div 100") ||
            col("rn") === expr("(n * 95 + 99) div 100"))
          .groupBy(col("event_type").as("et2"))
          .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        e.join(broadcast(bounds), col("event_type") === col("et2"))
          .selectExpr("event_type", "lo", "hi",
            "greatest(lo, least(hi, v)) AS cv")
          .groupBy("event_type", "lo", "hi")
          .agg(count(lit(1)).as("n"), sum(col("cv")).as("csum"))
          .selectExpr("event_type", "n", "lo AS lo_micro", "hi AS hi_micro",
            "csum div n AS winsor_mean_micro")
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
            CAST(round(value * 1000000) AS BIGINT) AS v
          FROM events),
        ranked AS (SELECT event_type, v,
            row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
          FROM e),
        bounds AS (SELECT event_type, min(v) AS lo, max(v) AS hi
          FROM ranked
          WHERE rn = (n * 5 + 99) // 100 OR rn = (n * 95 + 99) // 100
          GROUP BY event_type)
        SELECT event_type, count(*) AS n, lo AS lo_micro, hi AS hi_micro,
          CAST(sum(greatest(lo, least(hi, v))) // count(*) AS BIGINT)
            AS winsor_mean_micro
        FROM e JOIN bounds USING (event_type)
        GROUP BY event_type, lo, hi ORDER BY event_type""")),

    // ---- day-of-week lift, EXACT ----
    // The weekly-seasonality census: each weekday's value-mass share
    // vs its event-count share, as a lift ratio in micro units. The
    // day bucket is computed arithmetically from epoch days
    // ((day + 4) % 7, 0 = Sunday since 1970-01-01 was a Thursday) —
    // NOT via dayofweek(), whose 0-vs-1 base differs between engines.
    // One keyed agg + a broadcast 1-row total; the lift quotient is
    // widened because mass_micro * n_total passes int64 at the sf10
    // tier.
    "rel_weekday_lift" -> Q(
      (s, dir) => {
        val d = eventsTs(s, dir)
          .groupBy(expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("mass"))
        val tot = d.agg(sum(col("n")).as("nt"), sum(col("mass")).as("mt"))
        d.crossJoin(broadcast(tot))
          .selectExpr("dow", "n", "mass",
            """CAST((1000000 * CAST(mass AS DECIMAL(38,0)) * nt)
                 div (CAST(mt AS DECIMAL(38,0)) * n) AS BIGINT)
               AS lift_micro""")
          .orderBy("dow")
      },
      Some("""WITH d AS (SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
            count(*) AS n,
            CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS mass
          FROM events GROUP BY dow),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
            CAST(sum(mass) AS BIGINT) AS mt FROM d)
        SELECT dow, n, mass,
          CAST((1000000 * CAST(mass AS HUGEINT) * nt)
               // (CAST(mt AS HUGEINT) * n) AS BIGINT) AS lift_micro
        FROM d, t ORDER BY dow""")),

    // ---- Pareto concentration: the top-1% customers' revenue share ----
    // The 80/20 census over order revenue. The corpus collapses to one
    // row per customer (keyed agg with map-side partials); the global
    // rank runs on THAT frame — bounded by customer cardinality, the
    // same deliberate compromise as the gini entry — with (revenue
    // DESC, custkey) as a total order so ties cannot flap membership
    // of the top cohort. ceil(n/100) keeps the cohort non-empty at any
    // scale.
    "rel_pareto_share" -> Q(
      (s, dir) => {
        val rev = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("r"))
        val ranked = rev.withColumn("rn",
          row_number().over(Window.orderBy(col("r").desc, col("o_custkey"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
        ranked
          .groupBy("n")
          .agg(sum(col("r")).as("total_cents"),
            sum(when(col("rn") <= expr("(n + 99) div 100"), col("r"))
              .otherwise(0L)).as("top_cents"))
          .selectExpr("n AS n_customers", "(n + 99) div 100 AS top_n",
            "top_cents", "total_cents",
            "1000000 * top_cents div total_cents AS share_micro")
      },
      Some("""WITH rev AS (SELECT o_custkey,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
          FROM orders GROUP BY o_custkey),
        ranked AS (SELECT r,
            row_number() OVER (ORDER BY r DESC, o_custkey) AS rn,
            count(*) OVER () AS n
          FROM rev)
        SELECT n AS n_customers, (n + 99) // 100 AS top_n,
          CAST(sum(CASE WHEN rn <= (n + 99) // 100 THEN r ELSE 0 END)
            AS BIGINT) AS top_cents,
          CAST(sum(r) AS BIGINT) AS total_cents,
          CAST(1000000 * sum(CASE WHEN rn <= (n + 99) // 100 THEN r ELSE 0 END)
               // sum(r) AS BIGINT) AS share_micro
        FROM ranked GROUP BY n""")),

    // ---- discount elasticity table, EXACT ----
    // Does a deeper discount move more units? Mean quantity per
    // discount band (integer percent) as a lift vs the zero-discount
    // band — the promotion-effectiveness readout. One keyed agg; the
    // baseline band broadcasts back on. Quotients stay in int64 range
    // (qty sums x counts at sf10 ~ 1e9 * 1e8) — widened anyway for the
    // same envelope discipline as the other lift entries.
    "rel_discount_lift" -> Q(
      (s, dir) => {
        val d = t(s, dir, "lineitem")
          .groupBy(expr("CAST(round(l_discount * 100) AS INT)").as("disc_pct"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("bigint")).as("qty"))
        val base = d.where(col("disc_pct") === 0)
          .select(col("n").as("n0"), col("qty").as("qty0"))
        d.crossJoin(broadcast(base))
          .selectExpr("disc_pct", "n", "qty",
            "1000000 * qty div n AS mean_qty_micro",
            """CAST((1000000 * CAST(qty AS DECIMAL(38,0)) * n0)
                 div (CAST(qty0 AS DECIMAL(38,0)) * n) AS BIGINT)
               AS lift_micro""")
          .orderBy("disc_pct")
      },
      Some("""WITH d AS (SELECT CAST(round(l_discount * 100) AS INT) AS disc_pct,
            count(*) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          FROM lineitem GROUP BY disc_pct),
        base AS (SELECT n AS n0, qty AS qty0 FROM d WHERE disc_pct = 0)
        SELECT disc_pct, n, qty,
          CAST(1000000 * qty // n AS BIGINT) AS mean_qty_micro,
          CAST((1000000 * CAST(qty AS HUGEINT) * n0)
               // (CAST(qty0 AS HUGEINT) * n) AS BIGINT) AS lift_micro
        FROM d, base ORDER BY disc_pct""")),

    // ---- shipping SLA census: order-to-first-ship lag by priority ----
    // The fact-to-fact join readout: per order, the FIRST ship date of
    // its lines (keyed agg on lineitem pushes the min below the join,
    // so the join carries one row per order, not one per line), then
    // the lag census per priority class. Both sides are corpus-scale —
    // this is the shuffle-on-key join the star entries deliberately
    // avoid, kept here because the semantics need it; partial_min
    // below the exchange is the scale property. Lags are whole days
    // from epoch-day arithmetic; means are integer micro divisions.
    "rel_shipping_sla" -> Q(
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(min(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"))
            .as("ship_day"))
        t(s, dir, "orders")
          .selectExpr("o_orderkey", "o_orderpriority",
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS order_day")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .selectExpr("o_orderpriority", "ship_day - order_day AS lag_days")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("lag_days")).as("lag_sum_days"),
            max(col("lag_days")).as("max_lag_days"),
            sum(when(col("lag_days") <= 30, 1L).otherwise(0L)).as("n_within_30d"))
          .selectExpr("o_orderpriority", "n_orders", "max_lag_days",
            "1000000 * lag_sum_days div n_orders AS mean_lag_micro_days",
            "1000000 * n_within_30d div n_orders AS within_30d_micro")
          .orderBy("o_orderpriority")
      },
      Some("""WITH fs AS (SELECT l_orderkey,
            min(epoch_us(l_shipdate) // 86400000000) AS ship_day
          FROM lineitem GROUP BY l_orderkey),
        j AS (SELECT o_orderpriority,
            ship_day - (epoch_us(o_orderdate) // 86400000000) AS lag_days
          FROM orders JOIN fs ON o_orderkey = l_orderkey)
        SELECT o_orderpriority, count(*) AS n_orders,
          CAST(max(lag_days) AS BIGINT) AS max_lag_days,
          CAST(1000000 * sum(lag_days) // count(*) AS BIGINT)
            AS mean_lag_micro_days,
          CAST(1000000 * sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)
               // count(*) AS BIGINT) AS within_30d_micro
        FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- RFM segmentation census, EXACT ----
    // The marketing-standard customer cut: recency (days since last
    // order, vs the corpus max day), frequency (order count), monetary
    // (lifetime cents), each quartiled, then a census per (r,f,m)
    // cell. Quartiles come from percentile_disc THRESHOLDS computed in
    // one aggregate and broadcast back — NOT a global ntile window: an
    // ntile over 1e9 customers is a single-partition sort, while the
    // threshold frame is one row at any corpus size (at 100 TB the
    // exact percentile_disc swaps for approx_percentile with the same
    // one-row broadcast shape). Ties share a bucket by construction
    // (v > threshold tests), which is also what makes the assignment
    // order-free and engine-agnostic. Quartile conventions align:
    // for p = k/4 the cume_dist>=p element (Spark percentile_disc)
    // and the floor((n-1)p) element (DuckDB quantile_disc) coincide
    // because n*p's fractional part is in {0, .25, .5, .75}.
    "rel_rfm_segments" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .selectExpr("o_custkey",
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS day",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
        val anchor = o.agg(max(col("day")).as("anchor_day"))
        val c = o.crossJoin(broadcast(anchor))
          .groupBy("o_custkey")
          .agg(min(expr("anchor_day - day")).as("rec"),
            count(lit(1)).as("freq"), sum(col("cents")).as("mon"))
        val thr = c.agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY rec)").as("r25"),
          expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY rec)").as("r50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY rec)").as("r75"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY freq)").as("f25"),
          expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY freq)").as("f50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY freq)").as("f75"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY mon)").as("m25"),
          expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY mon)").as("m50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY mon)").as("m75"))
        c.crossJoin(broadcast(thr))
          .selectExpr(
            "1 + IF(rec > r25, 1, 0) + IF(rec > r50, 1, 0) + IF(rec > r75, 1, 0) AS r_q",
            "1 + IF(freq > f25, 1, 0) + IF(freq > f50, 1, 0) + IF(freq > f75, 1, 0) AS f_q",
            "1 + IF(mon > m25, 1, 0) + IF(mon > m50, 1, 0) + IF(mon > m75, 1, 0) AS m_q",
            "freq", "mon")
          .groupBy("r_q", "f_q", "m_q")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("freq")).as("orders_sum"), sum(col("mon")).as("mon_cents"))
          .orderBy("r_q", "f_q", "m_q")
      },
      Some("""WITH o AS (SELECT o_custkey,
            epoch_us(o_orderdate) // 86400000000 AS day,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        a AS (SELECT max(day) AS anchor_day FROM o),
        c AS (SELECT o_custkey, min(anchor_day - day) AS rec,
            count(*) AS freq, CAST(sum(cents) AS BIGINT) AS mon
          FROM o, a GROUP BY o_custkey),
        thr AS (SELECT
            quantile_disc(rec, 0.25) AS r25, quantile_disc(rec, 0.50) AS r50,
            quantile_disc(rec, 0.75) AS r75,
            quantile_disc(freq, 0.25) AS f25, quantile_disc(freq, 0.50) AS f50,
            quantile_disc(freq, 0.75) AS f75,
            quantile_disc(mon, 0.25) AS m25, quantile_disc(mon, 0.50) AS m50,
            quantile_disc(mon, 0.75) AS m75
          FROM c),
        seg AS (SELECT
            1 + CASE WHEN rec > r25 THEN 1 ELSE 0 END
              + CASE WHEN rec > r50 THEN 1 ELSE 0 END
              + CASE WHEN rec > r75 THEN 1 ELSE 0 END AS r_q,
            1 + CASE WHEN freq > f25 THEN 1 ELSE 0 END
              + CASE WHEN freq > f50 THEN 1 ELSE 0 END
              + CASE WHEN freq > f75 THEN 1 ELSE 0 END AS f_q,
            1 + CASE WHEN mon > m25 THEN 1 ELSE 0 END
              + CASE WHEN mon > m50 THEN 1 ELSE 0 END
              + CASE WHEN mon > m75 THEN 1 ELSE 0 END AS m_q,
            freq, mon
          FROM c, thr)
        SELECT r_q, f_q, m_q, count(*) AS n_customers,
          CAST(sum(freq) AS BIGINT) AS orders_sum,
          CAST(sum(mon) AS BIGINT) AS mon_cents
        FROM seg GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q""")),

    // ---- Pettitt changepoint test, EXACT ----
    // The rank-based single-changepoint locator (the nonparametric
    // sibling of rel_cusum_changepoint): U_t = sum over pairs (i<=t<j)
    // of sign(x_j - x_i) on each type's daily value series; the
    // changepoint is the t maximizing |U_t|. The corpus collapses to
    // (type, day) in one keyed agg — calendar-bounded at ANY corpus
    // size — and the pair x split-point fan (~30 days -> 435 pairs x
    // ~30 t) is a pure broadcast product of two tiny frames; nothing
    // corpus-scale ever re-shuffles. Ties on t cannot occur (t is the
    // day key), so min_by/arg_min picks are deterministic.
    "rel_pettitt_changepoint" -> Q(
      (s, dir) => {
        val d = eventsTs(s, dir)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("v"))
        val a = d.select(col("event_type"), col("day").as("d1"), col("v").as("v1"))
        val b = d.select(col("event_type").as("et2"), col("day").as("d2"),
          col("v").as("v2"))
        val ts = d.select(col("event_type").as("et3"), col("day").as("tday"))
        val u = a.join(broadcast(b),
            col("event_type") === col("et2") && col("d1") < col("d2"))
          .join(broadcast(ts), col("event_type") === col("et3") &&
            col("d1") <= col("tday") && col("tday") < col("d2"))
          .groupBy("event_type", "tday")
          .agg(sum(expr("IF(v2 > v1, 1L, IF(v2 < v1, -1L, 0L))")).as("u"))
        val k = u.groupBy(col("event_type").as("et4"))
          .agg(max(abs(col("u"))).as("k_stat"), count(lit(1)).as("n_splits"))
        u.join(broadcast(k), col("event_type") === col("et4") &&
            abs(col("u")) === col("k_stat"))
          .groupBy("event_type", "k_stat", "n_splits")
          .agg(min(col("tday")).as("cp_day"),
            expr("min_by(u, tday)").as("u_at_cp"))
          .select(col("event_type"), col("n_splits"), col("k_stat"),
            col("cp_day"), col("u_at_cp"))
          .orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
            CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v
          FROM events GROUP BY event_type, day),
        u AS (SELECT a.event_type, t.day AS tday,
            CAST(sum(CASE WHEN b.v > a.v THEN 1
                          WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS u
          FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
                 JOIN d t ON t.event_type = a.event_type
                         AND a.day <= t.day AND t.day < b.day
          GROUP BY a.event_type, t.day),
        k AS (SELECT event_type, CAST(max(abs(u)) AS BIGINT) AS k_stat,
            count(*) AS n_splits
          FROM u GROUP BY event_type)
        SELECT u.event_type, n_splits, k_stat,
          CAST(min(tday) AS BIGINT) AS cp_day,
          CAST(arg_min(u, tday) AS BIGINT) AS u_at_cp
        FROM u JOIN k ON u.event_type = k.event_type AND abs(u.u) = k.k_stat
        GROUP BY u.event_type, n_splits, k_stat ORDER BY u.event_type""")),

    // ---- Theil-Sen slope (lower median of pairwise slopes), EXACT ----
    // The robust trend estimator next to rel_mann_kendall's test: per
    // type, the median over all day pairs of (v_j - v_i)/(d_j - d_i),
    // in micro units/day. Division is sign-extracted (Spark div
    // truncates toward zero, DuckDB // floors — they disagree on the
    // first negative indivisible quotient), and the median is the
    // LOWER order statistic picked by row_number over the bounded
    // (calendar^2) pair frame with a total (slope, d1, d2) order — no
    // interpolation, no doubles. The per-type pair partition is ~435
    // rows at any corpus size, so the rank window is bounded work.
    "rel_theil_sen" -> Q(
      (s, dir) => {
        val d = eventsTs(s, dir)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("v"))
        val a = d.select(col("event_type"), col("day").as("d1"), col("v").as("v1"))
        val b = d.select(col("event_type").as("et2"), col("day").as("d2"),
          col("v").as("v2"))
        val slopes = a.join(broadcast(b),
            col("event_type") === col("et2") && col("d1") < col("d2"))
          .selectExpr("event_type", "d1", "d2",
            """IF(v2 - v1 < 0, -1L, 1L) * (abs(v2 - v1) div (d2 - d1))
               AS slope_micro""")
        val w = Window.partitionBy("event_type")
          .orderBy(col("slope_micro"), col("d1"), col("d2"))
        slopes
          .withColumn("rn", row_number().over(w))
          .withColumn("n_pairs",
            count(lit(1)).over(Window.partitionBy("event_type")))
          .where(col("rn") === expr("(n_pairs + 1) div 2"))
          .select(col("event_type"), col("n_pairs"),
            col("slope_micro").as("median_slope_micro"))
          .orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
            CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v
          FROM events GROUP BY event_type, day),
        sl AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
            CAST(CASE WHEN b.v - a.v < 0 THEN -1 ELSE 1 END
                 * (abs(b.v - a.v) // (b.day - a.day)) AS BIGINT)
              AS slope_micro
          FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
        r AS (SELECT event_type, slope_micro,
            row_number() OVER (PARTITION BY event_type
                               ORDER BY slope_micro, d1, d2) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n_pairs
          FROM sl)
        SELECT event_type, n_pairs, slope_micro AS median_slope_micro
        FROM r WHERE rn = (n_pairs + 1) // 2 ORDER BY event_type""")),

    // ---- DAU/MAU stickiness, EXACT ----
    // The engagement ratio every growth dashboard leads with: per
    // calendar month, mean daily active users over monthly active
    // users, in integer micro. Two distinct-aggs (per-day and
    // per-month user sets) that both shuffle on user_id — the exact
    // count-distinct shape that scales by key partitioning — then a
    // 1-row-per-month join; nothing wider than the calendar survives
    // the aggs.
    "rel_cohort_stickiness" -> Q(
      (s, dir) => {
        val ev = eventsTs(s, dir)
          .selectExpr("date_format(ts, 'yyyy-MM') AS month",
            "unix_micros(ts) div 86400000000 AS day", "user_id")
        val daily = ev.groupBy("month", "day")
          .agg(countDistinct(col("user_id")).as("dau"))
          .groupBy("month")
          .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
        val monthly = ev.groupBy(col("month").as("m2"))
          .agg(countDistinct(col("user_id")).as("mau"))
        daily.join(broadcast(monthly), col("month") === col("m2"))
          .selectExpr("month", "n_days", "dau_sum", "mau",
            "1000000 * dau_sum div (n_days * mau) AS stickiness_micro")
          .orderBy("month")
      },
      Some("""WITH ev AS (SELECT strftime(ts, '%Y-%m') AS month,
            epoch_us(ts) // 86400000000 AS day, user_id
          FROM events),
        daily AS (SELECT month, count(*) AS n_days,
            CAST(sum(dau) AS BIGINT) AS dau_sum
          FROM (SELECT month, day, count(DISTINCT user_id) AS dau
                FROM ev GROUP BY month, day)
          GROUP BY month),
        monthly AS (SELECT month, count(DISTINCT user_id) AS mau
          FROM ev GROUP BY month)
        SELECT month, n_days, dau_sum, mau,
          CAST(1000000 * dau_sum // (n_days * mau) AS BIGINT)
            AS stickiness_micro
        FROM daily JOIN monthly USING (month) ORDER BY month""")),

    // ---- CDC latest-state compaction (last write wins + tombstones) ----
    // The change-data-capture compaction every lakehouse table service
    // runs: the event stream is an upsert log keyed by user, the
    // winner is the (ts, event_id)-last record, and a final 'error'
    // event tombstones the key. ONE keyed agg via max(struct(...)) —
    // the (ts, event_id) prefix is unique so lexicographic struct max
    // IS last-write-wins, and partial aggregation combines map-side —
    // instead of the window row_number formulation (full shuffle +
    // per-key sort) the oracle uses; at 100 TB the agg form is the
    // one that survives, because each executor keeps one candidate
    // row per key, not the key's whole history.
    "rel_cdc_latest" -> Q(
      (s, dir) => {
        eventsTs(s, dir)
          .selectExpr("user_id",
            """struct(unix_micros(ts) AS tsm, event_id,
                 event_type, CAST(round(value * 1000000) AS BIGINT) AS vm)
               AS rec""")
          .groupBy("user_id")
          .agg(max(col("rec")).as("last"))
          .where(col("last.event_type") =!= "error")
          .groupBy(col("last.event_type").as("last_event_type"))
          .agg(count(lit(1)).as("n_live_users"),
            sum(col("last.vm")).as("value_micro_sum"),
            max(col("last.tsm")).as("max_ts_micros"))
          .orderBy("last_event_type")
      },
      Some("""WITH ranked AS (SELECT user_id, event_type,
            CAST(round(value * 1000000) AS BIGINT) AS vm,
            epoch_us(ts) AS tsm,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts) DESC, event_id DESC)
              AS rn
          FROM events),
        last AS (SELECT * FROM ranked WHERE rn = 1 AND event_type <> 'error')
        SELECT event_type AS last_event_type, count(*) AS n_live_users,
          CAST(sum(vm) AS BIGINT) AS value_micro_sum,
          CAST(max(tsm) AS BIGINT) AS max_ts_micros
        FROM last GROUP BY event_type ORDER BY last_event_type""")),

    // ---- week-over-week mix shift (total variation distance) ----
    // The drift alarm a traffic pipeline puts on its composition: per
    // epoch-week, each event type's micro share of the week; TVD
    // between consecutive weeks = sum |share_w - share_{w-1}| / 2.
    // Floored micro shares make the metric integer end to end, and
    // the shift is computed on the (week, type) frame — calendar x 5
    // types at ANY corpus size — joined to itself at lag 1. One
    // corpus-scale keyed agg, then bounded-frame arithmetic.
    "rel_mix_shift_tvd" -> Q(
      (s, dir) => {
        val wk = eventsTs(s, dir)
          .groupBy(expr("unix_micros(ts) div 604800000000").as("week"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val tot = wk.groupBy(col("week").as("w2"))
          .agg(sum(col("n")).as("wn"))
        val shares = wk.join(broadcast(tot), col("week") === col("w2"))
          .selectExpr("week", "event_type",
            "1000000 * n div wn AS share_micro")
        shares.as("c").join(broadcast(shares.as("p")),
            col("c.event_type") === col("p.event_type") &&
              col("c.week") === col("p.week") + 1)
          .groupBy(col("c.week").as("week"))
          .agg(count(lit(1)).as("n_types"),
            sum(abs(col("c.share_micro") - col("p.share_micro"))).as("l1"))
          .selectExpr("week", "n_types", "l1 div 2 AS tvd_micro")
          .orderBy("week")
      },
      Some("""WITH wk AS (SELECT epoch_us(ts) // 604800000000 AS week,
            event_type, count(*) AS n
          FROM events GROUP BY week, event_type),
        tot AS (SELECT week, CAST(sum(n) AS BIGINT) AS wn
          FROM wk GROUP BY week),
        shares AS (SELECT wk.week, event_type,
            CAST(1000000 * n // wn AS BIGINT) AS share_micro
          FROM wk JOIN tot ON wk.week = tot.week)
        SELECT c.week, count(*) AS n_types,
          CAST(sum(abs(c.share_micro - p.share_micro)) // 2 AS BIGINT)
            AS tvd_micro
        FROM shares c JOIN shares p
          ON c.event_type = p.event_type AND c.week = p.week + 1
        GROUP BY c.week ORDER BY c.week""")),

    // ---- customer value-band migration matrix ----
    // The cohort-movement census subscription analytics runs yearly:
    // each customer's mean order value maps to a fixed band, and the
    // (band_from, band_to) transition counts between CONSECUTIVE
    // years form the migration matrix. The corpus collapses to
    // (customer, year) in one keyed agg; the lag pairing is a window
    // over each customer's <= 7-row year frame (calendar-bounded) —
    // partitioned by customer, so it scales by key, never globally.
    "rel_band_migration" -> Q(
      (s, dir) => {
        val cy = t(s, dir, "orders")
          .groupBy(col("o_custkey"),
            year(col("o_orderdate")).as("yr"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
          .selectExpr("o_custkey", "yr",
            "least(4L, (cents div n) div 15000000) AS band")
        val w = Window.partitionBy("o_custkey").orderBy("yr")
        cy.withColumn("prev_yr", lag("yr", 1).over(w))
          .withColumn("band_from", lag("band", 1).over(w))
          .where(col("prev_yr") === col("yr") - 1)
          .groupBy(col("band_from"), col("band").as("band_to"))
          .agg(count(lit(1)).as("n_transitions"))
          .orderBy("band_from", "band_to")
      },
      Some("""WITH cy AS (SELECT o_custkey, year(o_orderdate) AS yr,
            least(4, (CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) // count(*)) // 15000000) AS band
          FROM orders GROUP BY o_custkey, yr),
        lagged AS (SELECT o_custkey, yr, band,
            lag(yr) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_yr,
            lag(band) OVER (PARTITION BY o_custkey ORDER BY yr) AS band_from
          FROM cy)
        SELECT CAST(band_from AS BIGINT) AS band_from,
          CAST(band AS BIGINT) AS band_to, count(*) AS n_transitions
        FROM lagged WHERE prev_yr = yr - 1
        GROUP BY band_from, band ORDER BY band_from, band_to""")),

    // ---- weekday seasonality strength (eta^2 on floored means) ----
    // How much of a type's daily-volume variance does day-of-week
    // explain? Classic one-way eta^2 = SS_between / SS_total over the
    // daily frame grouped by epoch-weekday — computed on FLOORED
    // integer means (mean = S div N), the documented deterministic
    // variant: exact rational means would need a per-type common
    // denominator that neither engine's integer types carry, and the
    // floor bias is bounded by N/scale (micro units). Squares widen
    // to DECIMAL(38,0)/HUGEINT — daily micro mass ~1.6e13 at sf10
    // squares to ~2.6e26, past int64 but 11 digits inside DECIMAL(38).
    // Shape: one corpus keyed agg -> calendar-bounded frames ->
    // broadcast means back on.
    "rel_seasonality_strength" -> Q(
      (s, dir) => {
        val d = eventsTs(s, dir)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("v"))
          .withColumn("wd", expr("day % 7"))
        val overall = d.groupBy(col("event_type").as("et2"))
          .agg(expr("sum(v) div count(1)").as("mean_all"),
            count(lit(1)).as("n_days"))
        val byWd = d.groupBy("event_type", "wd")
          .agg(expr("sum(v) div count(1)").as("mean_wd"),
            count(lit(1)).as("n_wd"))
        val ssb = byWd.join(broadcast(overall), col("event_type") === col("et2"))
          .groupBy("event_type")
          .agg(sum(expr(
            """n_wd * CAST(mean_wd - mean_all AS DECIMAL(38,0))
               * (mean_wd - mean_all)""")).as("ssb"))
        val sst = d.join(broadcast(overall), col("event_type") === col("et2"))
          .groupBy(col("event_type").as("et3"))
          .agg(sum(expr(
            """CAST(v - mean_all AS DECIMAL(38,0)) * (v - mean_all)"""))
            .as("sst"), max(col("n_days")).as("n_days"))
        ssb.join(broadcast(sst), col("event_type") === col("et3"))
          .selectExpr("event_type", "n_days",
            """CAST(IF(sst = 0, 0, (1000000 * ssb) div sst) AS BIGINT)
               AS eta2_micro""")
          .orderBy("event_type")
      },
      Some("""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
            CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v
          FROM events GROUP BY event_type, day),
        dd AS (SELECT *, day % 7 AS wd FROM d),
        o AS (SELECT event_type, CAST(sum(v) // count(*) AS BIGINT)
              AS mean_all, count(*) AS n_days
          FROM dd GROUP BY event_type),
        w AS (SELECT event_type, wd, CAST(sum(v) // count(*) AS BIGINT)
              AS mean_wd, count(*) AS n_wd
          FROM dd GROUP BY event_type, wd),
        ssb AS (SELECT w.event_type,
            sum(n_wd * CAST(mean_wd - mean_all AS HUGEINT)
                * (mean_wd - mean_all)) AS ssb
          FROM w JOIN o ON w.event_type = o.event_type
          GROUP BY w.event_type),
        sst AS (SELECT dd.event_type,
            sum(CAST(v - mean_all AS HUGEINT) * (v - mean_all)) AS sst,
            max(n_days) AS n_days
          FROM dd JOIN o ON dd.event_type = o.event_type
          GROUP BY dd.event_type)
        SELECT ssb.event_type, n_days,
          CAST(CASE WHEN sst = 0 THEN 0
               ELSE (1000000 * ssb) // sst END AS BIGINT) AS eta2_micro
        FROM ssb JOIN sst ON ssb.event_type = sst.event_type
        ORDER BY ssb.event_type""")),

    // ---- open-order backlog curve (orders in flight per period) ----
    // The operations dashboard staple: +1 at order placement, -1 the
    // day after the order's FIRST line ships, running-summed into a
    // daily backlog, rolled to per-30-day-period peak and close. The
    // corpus collapses twice before any ordered work: lineitem to one
    // min-ship row per order (partial_min below the join exchange),
    // then both events to a DELTA per day — the running sum runs on
    // the calendar-bounded (~2400-row) day frame, the same
    // bounded-sweep discipline as fmt_genomecov_hist. Period is the
    // epoch-day // 30 index (engine-identical arithmetic; a calendar
    // month needs TZ-dependent date math both engines would have to
    // agree on).
    "rel_order_backlog" -> Q(
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(min(expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"))
            .as("ship_day"))
        val spans = t(s, dir, "orders")
          .selectExpr("o_orderkey",
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS order_day")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
        val deltas = spans.selectExpr("order_day AS day", "1L AS d")
          .union(spans.selectExpr("ship_day + 1 AS day", "-1L AS d"))
          .groupBy("day").agg(sum(col("d")).as("delta"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deltas
          .withColumn("backlog", sum(col("delta")).over(w))
          .groupBy(expr("day div 30").as("period"))
          .agg(max(col("backlog")).as("peak_backlog"),
            expr("max_by(backlog, day)").as("close_backlog"),
            count(lit(1)).as("n_change_days"))
          .orderBy("period")
      },
      Some("""WITH fs AS (SELECT l_orderkey,
            min(epoch_us(l_shipdate) // 86400000000) AS ship_day
          FROM lineitem GROUP BY l_orderkey),
        spans AS (SELECT epoch_us(o_orderdate) // 86400000000 AS order_day,
            ship_day
          FROM orders JOIN fs ON o_orderkey = l_orderkey),
        deltas AS (SELECT day, CAST(sum(d) AS BIGINT) AS delta FROM (
            SELECT order_day AS day, 1 AS d FROM spans
            UNION ALL SELECT ship_day + 1, -1 FROM spans)
          GROUP BY day),
        curve AS (SELECT day, delta,
            sum(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS backlog
          FROM deltas)
        SELECT day // 30 AS period,
          CAST(max(backlog) AS BIGINT) AS peak_backlog,
          CAST(arg_max(backlog, day) AS BIGINT) AS close_backlog,
          count(*) AS n_change_days
        FROM curve GROUP BY period ORDER BY period""")),

    // ---- new-vs-returning user share per week ----
    // The acquisition readout next to rel_retention_cohorts: per
    // epoch-week, how many active users are seeing their FIRST week?
    // The corpus collapses to the (week, user) distinct frame in one
    // keyed agg; each user's first week is a re-aggregation of THAT
    // frame (no second corpus scan), and the flag join keys on user —
    // the count-distinct-by-key shape that partitions cleanly at any
    // volume.
    "rel_new_user_share" -> Q(
      (s, dir) => {
        val wkUser = eventsTs(s, dir)
          .groupBy(expr("unix_micros(ts) div 604800000000").as("week"),
            col("user_id"))
          .agg(count(lit(1)).as("n_ev"))
        val wkB = Exec.barrier(wkUser)
        val first = wkB.groupBy(col("user_id").as("u2"))
          .agg(min(col("week")).as("first_week"))
        wkB.join(first, col("user_id") === col("u2"))
          .groupBy("week")
          .agg(count(lit(1)).as("active_users"),
            sum(when(col("week") === col("first_week"), 1L).otherwise(0L))
              .as("new_users"),
            sum(col("n_ev")).as("n_events"))
          .selectExpr("week", "active_users", "new_users", "n_events",
            "1000000 * new_users div active_users AS new_share_micro")
          .orderBy("week")
      },
      Some("""WITH wk AS (SELECT epoch_us(ts) // 604800000000 AS week,
            user_id, count(*) AS n_ev
          FROM events GROUP BY week, user_id),
        f AS (SELECT user_id, min(week) AS first_week
          FROM wk GROUP BY user_id)
        SELECT week, count(*) AS active_users,
          CAST(sum(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS BIGINT)
            AS new_users,
          CAST(sum(n_ev) AS BIGINT) AS n_events,
          CAST(1000000 * sum(CASE WHEN week = first_week THEN 1 ELSE 0 END)
               // count(*) AS BIGINT) AS new_share_micro
        FROM wk JOIN f USING (user_id)
        GROUP BY week ORDER BY week""")),

    // ---- suspected duplicate invoices (tolerance-band pair sweep) ----
    // The billing-audit staple: two orders from the SAME customer,
    // placed within 7 days, whose totals differ by <= 4% relative gap
    // (|a-b| / mean <= 4%, tested in integer cents as |a-b|*50 <= a+b —
    // no float ratio, no rounding seam). The self-join keys on
    // o_custkey, so the fan is bounded by orders-per-customer (a
    // business constant, ~25 here), not corpus size — the same
    // key-bounded-pair discipline as rel_market_basket. Emission is the
    // pair list itself: audit output is the pairs, and its volume is
    // tolerance-bounded (204 rows at sf0.1), not corpus-quadratic.
    "rel_dup_invoices" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders").selectExpr("o_custkey", "o_orderkey",
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS day",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
        val a = o.select(col("o_custkey").as("cust"), col("o_orderkey").as("ok_a"),
          col("day").as("da"), col("cents").as("ca"))
        val b = o.select(col("o_custkey").as("cust2"), col("o_orderkey").as("ok_b"),
          col("day").as("db"), col("cents").as("cb"))
        a.join(b, col("cust") === col("cust2") && col("ok_a") < col("ok_b") &&
            abs(col("da") - col("db")) <= 7 &&
            abs(col("ca") - col("cb")) * 50 <= col("ca") + col("cb"))
          .selectExpr("cust AS o_custkey", "ok_a", "ok_b",
            "abs(da - db) AS day_gap",
            "1000000 * abs(ca - cb) div (ca + cb) AS half_gap_micro")
          .orderBy("o_custkey", "ok_a", "ok_b")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey,
            epoch_us(o_orderdate) // 86400000000 AS day,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders)
        SELECT a.o_custkey, a.o_orderkey AS ok_a, b.o_orderkey AS ok_b,
          abs(a.day - b.day) AS day_gap,
          CAST(1000000 * abs(a.cents - b.cents)
               // (a.cents + b.cents) AS BIGINT) AS half_gap_micro
        FROM o a JOIN o b
          ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
          AND abs(a.day - b.day) <= 7
          AND abs(a.cents - b.cents) * 50 <= a.cents + b.cents
        ORDER BY a.o_custkey, ok_a, ok_b""")),

    // ---- Kaplan-Meier life table (order open -> last ship), EXACT ----
    // Right-censored survival ingredients: duration = weeks from order
    // date to the order's LAST shipment; completed orders ('F') are
    // events, open/pending orders are censored at their last observed
    // shipment. Per distinct week t: n_risk (still open at t), d_events,
    // n_censored, and the discrete hazard d/n_risk in micro units. The
    // corpus collapses to one row per distinct week in a keyed agg
    // BEFORE the n_risk cumulative window, so the single-partition
    // window runs over a calendar-bounded frame (<= span/7 rows — ~520
    // here), never the order stream; survival itself is the downstream
    // product of (1 - hazard) and is left to the consumer because an
    // exact cross-row product has no engine-stable integer form.
    "rel_kaplan_meier" -> Q(
      (s, dir) => {
        val lastShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(max(expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"))
            .as("ship_day"))
        val durs = t(s, dir, "orders")
          .selectExpr("o_orderkey", "o_orderstatus",
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS order_day")
          .join(lastShip, col("o_orderkey") === col("l_orderkey"))
          .selectExpr("(ship_day - order_day) div 7 AS t_week",
            "IF(o_orderstatus = 'F', 1L, 0L) AS ev")
        val perT = durs.groupBy("t_week")
          .agg(sum(col("ev")).as("d_events"),
            sum(expr("1 - ev")).as("n_censored"))
        val w = Window.orderBy("t_week")
          .rowsBetween(Window.unboundedPreceding, -1)
        perT
          .withColumn("n_risk",
            expr("sum(d_events + n_censored) OVER ()") -
              coalesce(sum(col("d_events") + col("n_censored")).over(w), lit(0L)))
          .selectExpr("t_week", "n_risk", "d_events", "n_censored",
            "1000000 * d_events div n_risk AS hazard_micro")
          .orderBy("t_week")
      },
      Some("""WITH ls AS (SELECT l_orderkey,
            max(epoch_us(l_shipdate) // 86400000000) AS ship_day
          FROM lineitem GROUP BY l_orderkey),
        durs AS (SELECT
            (ship_day - epoch_us(o_orderdate) // 86400000000) // 7 AS t_week,
            CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
          FROM orders JOIN ls ON o_orderkey = l_orderkey),
        pt AS (SELECT t_week, CAST(sum(ev) AS BIGINT) AS d_events,
            CAST(sum(1 - ev) AS BIGINT) AS n_censored
          FROM durs GROUP BY t_week),
        cum AS (SELECT *,
            CAST((SELECT sum(d_events + n_censored) FROM pt)
              - coalesce(sum(d_events + n_censored) OVER (ORDER BY t_week
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
          FROM pt)
        SELECT t_week, n_risk, d_events, n_censored,
          CAST(1000000 * d_events // n_risk AS BIGINT) AS hazard_micro
        FROM cum ORDER BY t_week""")),

    // ---- Bowley quartile skewness per market segment, EXACT ----
    // The robust skewness gauge ((Q3 + Q1 - 2*Q2) / (Q3 - Q1)) over
    // order totals by customer segment. Quartiles are percentile_disc
    // element PICKS on integer cents (the p = k/4 alignment argument
    // from rel_rfm_segments: Spark's cume_dist>=p element and DuckDB's
    // floor((n-1)p) element coincide), so both engines select the same
    // stored value — no interpolation, no float seam. The numerator is
    // signed, so the fixed-point division states truncation explicitly
    // (Spark div truncates toward zero; DuckDB // floors — they differ
    // at the first negative indivisible quotient, the BENCH_NOTES r8
    // trap class). One shuffle join orders->customer, one keyed agg.
    "rel_bowley_skew" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders").selectExpr("o_custkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
        val c = t(s, dir, "customer")
          .selectExpr("c_custkey", "c_mktsegment")
        o.join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            // Spark's percentile_disc returns DOUBLE even over BIGINT
            // input; the picks are exact int values < 2^53, so the cast
            // back to BIGINT is lossless and restores integer `div`.
            expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS BIGINT)").as("q1"),
            expr("CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY cents) AS BIGINT)").as("q2"),
            expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS BIGINT)").as("q3"))
          .selectExpr("c_mktsegment", "n_orders", "q1", "q2", "q3",
            // greatest(_, 1): a degenerate segment with Q1 == Q3 (one
            // price spanning the 25th-75th percentile) has no spread
            // to normalize by — emit 0, not a div-by-zero null/abort
            // (q3 >= q1 always, so the guard fires only at equality,
            // where the numerator q3 + q1 - 2*q2 is 0 too)
            "1000000 * (q3 + q1 - 2 * q2) div greatest(q3 - q1, 1) AS bowley_micro")
          .orderBy("c_mktsegment")
      },
      Some("""WITH j AS (SELECT c_mktsegment,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders JOIN customer ON o_custkey = c_custkey),
        q AS (SELECT c_mktsegment, count(*) AS n_orders,
            quantile_disc(cents, 0.25) AS q1, quantile_disc(cents, 0.50) AS q2,
            quantile_disc(cents, 0.75) AS q3
          FROM j GROUP BY c_mktsegment)
        SELECT c_mktsegment, n_orders, q1, q2, q3,
          CAST(CASE WHEN q3 + q1 - 2 * q2 < 0
            THEN -((-1000000 * (q3 + q1 - 2 * q2)) // greatest(q3 - q1, 1))
            ELSE (1000000 * (q3 + q1 - 2 * q2)) // greatest(q3 - q1, 1) END
            AS BIGINT) AS bowley_micro
        FROM q ORDER BY c_mktsegment""")),

    // ---- day-of-week x hour activity heatmap, EXACT ----
    // The ops-dashboard census: event volume per (weekday, hour) cell
    // plus each cell's share of its weekday in micro units. Weekday is
    // computed ARITHMETICALLY (epoch-day mod 7, 0 = Thursday) on both
    // sides — engine weekday functions disagree on week origin
    // (Sunday=0 vs 1 vs ISO), and the label is a join key here, not
    // calendar prose. One keyed agg to the 168-cell frame; the weekday
    // totals re-aggregate THAT frame (7 rows) and broadcast back.
    "rel_dow_hour_heatmap" -> Q(
      (s, dir) => {
        val cells = eventsTs(s, dir)
          .groupBy(expr("(unix_micros(ts) div 86400000000) % 7").as("dow"),
            expr("(unix_micros(ts) div 3600000000) % 24").as("hr"))
          .agg(count(lit(1)).as("n"))
        val cellsB = Exec.barrier(cells)
        val dowTot = cellsB.groupBy(col("dow").as("dow2"))
          .agg(sum(col("n")).as("dow_n"))
        cellsB.join(broadcast(dowTot), col("dow") === col("dow2"))
          .selectExpr("dow", "hr", "n",
            "1000000 * n div dow_n AS dow_share_micro")
          .orderBy("dow", "hr")
      },
      Some("""WITH cells AS (SELECT
            (epoch_us(ts) // 86400000000) % 7 AS dow,
            (epoch_us(ts) // 3600000000) % 24 AS hr, count(*) AS n
          FROM events GROUP BY dow, hr),
        dt AS (SELECT dow AS dow2, CAST(sum(n) AS BIGINT) AS dow_n
          FROM cells GROUP BY dow)
        SELECT dow, hr, n,
          CAST(1000000 * n // dow_n AS BIGINT) AS dow_share_micro
        FROM cells JOIN dt ON dow = dow2
        ORDER BY dow, hr""")),

    // ---- two-sample Kolmogorov-Smirnov distance, EXACT on $100 bins ----
    // Does the BUILDING segment spend differently from MACHINERY? The
    // KS statistic D = max_v |F1(v) - F2(v)| over the order-total
    // distribution, computed EXACTLY on a $100-binned value axis:
    // per-bin counts collapse the corpus in one keyed agg, and the ECDF
    // cumulative window then runs over a PRICE-RANGE-bounded frame
    // (~6000 bins — a catalog constant, like rel_kaplan_meier's
    // calendar bound), never the order stream. The max is found by
    // cross-multiplication — |n2*cum1 - n1*cum2| in DECIMAL(38,0)/
    // HUGEINT (n1*n2 passes int64 at corpus scale; the
    // rel_rate_correlation advice class, widened at the SOURCE) — so
    // no float ECDF ever exists. Ties on D break toward the lowest
    // bin; output is the single argmax row with D in micro units.
    "rel_ks_two_sample" -> Q(
      (s, dir) => {
        val j = t(s, dir, "orders")
          .selectExpr("o_custkey",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
          .join(t(s, dir, "customer").selectExpr("c_custkey", "c_mktsegment"),
            col("o_custkey") === col("c_custkey"))
          .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        val bins = j.groupBy(expr("cents div 10000").as("bin"))
          .agg(sum(expr("IF(c_mktsegment = 'BUILDING', 1L, 0L)")).as("c1"),
            sum(expr("IF(c_mktsegment = 'MACHINERY', 1L, 0L)")).as("c2"))
        val w = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bins
          .withColumn("cum1", sum(col("c1")).over(w))
          .withColumn("cum2", sum(col("c2")).over(w))
          .withColumn("n1", expr("sum(c1) OVER ()"))
          .withColumn("n2", expr("sum(c2) OVER ()"))
          .withColumn("dnum", expr(
            """abs(CAST(n2 AS DECIMAL(38,0)) * cum1
                 - CAST(n1 AS DECIMAL(38,0)) * cum2)"""))
          .orderBy(col("dnum").desc, col("bin").asc)
          .limit(1)
          .selectExpr("bin AS at_bin", "n1", "n2",
            """CAST(1000000 * dnum
                 div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT) AS ks_micro""")
      },
      Some("""WITH j AS (SELECT c_mktsegment AS seg,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        bins AS (SELECT cents // 10000 AS bin,
            sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
            sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS c2
          FROM j GROUP BY bin),
        cum AS (SELECT bin,
            sum(c1) OVER (ORDER BY bin) AS cum1,
            sum(c2) OVER (ORDER BY bin) AS cum2,
            sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
          FROM bins),
        d AS (SELECT bin, n1, n2,
            abs(CAST(n2 AS HUGEINT) * cum1 - CAST(n1 AS HUGEINT) * cum2) AS dnum
          FROM cum)
        SELECT bin AS at_bin, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
          CAST(1000000 * dnum // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_micro
        FROM d ORDER BY dnum DESC, bin LIMIT 1""")),

    // ---- Mann-Whitney U / common-language effect size, EXACT ----
    // The nonparametric "does segment 1 stochastically dominate
    // segment 2" test on the same $100-binned frame as
    // rel_ks_two_sample. Tie-averaged ranks stay integer by working in
    // DOUBLED rank units: a bin holding t values after C_prev earlier
    // values contributes average rank (2*C_prev + t + 1)/2, so twice
    // the group-1 rank sum is sum(c1 * (2*C_prev + t + 1)) — exact,
    // no halves. U1x2 = R1x2 - n1*(n1+1); the common-language effect
    // size U1/(n1*n2) is emitted in micro units (500000 = no shift).
    // Every cross-term widens to DECIMAL(38,0)/HUGEINT at the source
    // (c1*rank and n1*n2 both pass int64 at corpus scale). The
    // cumulative window runs over the same price-bounded bin frame.
    "rel_mannwhitney_u" -> Q(
      (s, dir) => {
        val j = t(s, dir, "orders")
          .selectExpr("o_custkey",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
          .join(t(s, dir, "customer").selectExpr("c_custkey", "c_mktsegment"),
            col("o_custkey") === col("c_custkey"))
          .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        val bins = j.groupBy(expr("cents div 10000").as("bin"))
          .agg(sum(expr("IF(c_mktsegment = 'BUILDING', 1L, 0L)")).as("c1"),
            sum(expr("IF(c_mktsegment = 'MACHINERY', 1L, 0L)")).as("c2"))
        val w = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bins
          .withColumn("t", col("c1") + col("c2"))
          .withColumn("cprev", sum(col("t")).over(w) - col("t"))
          .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
            sum(expr(
              "CAST(c1 AS DECIMAL(38,0)) * (2 * cprev + t + 1)")).as("r1x2"))
          .selectExpr("n1", "n2",
            """CAST(1000000 * (r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1))
                 div (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)
                 AS cles_micro""")
      },
      Some("""WITH j AS (SELECT c_mktsegment AS seg,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        bins AS (SELECT cents // 10000 AS bin,
            sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
            sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS c2
          FROM j GROUP BY bin),
        cum AS (SELECT c1, c2, c1 + c2 AS t,
            sum(c1 + c2) OVER (ORDER BY bin) - (c1 + c2) AS cprev
          FROM bins),
        agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
            CAST(sum(c2) AS BIGINT) AS n2,
            sum(CAST(c1 AS HUGEINT) * (2 * cprev + t + 1)) AS r1x2
          FROM cum)
        SELECT n1, n2,
          CAST(1000000 * (r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1))
            // (2 * CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS cles_micro
        FROM agg""")),

    // ---- cohort LTV curve (cumulative revenue by cohort age), EXACT ----
    // The subscription/commerce staple behind every "payback period"
    // decision: customers are grouped by FIRST-order month (the
    // cohort), and each cohort's revenue is tracked by age-in-months
    // with a running cumulative (the LTV curve whose flattening point
    // sets acquisition spend). Two keyed aggs collapse the order
    // stream (first-order month per customer, then revenue per
    // (cohort, age) cell); the cumulative window then runs PARTITIONED
    // BY COHORT over a calendar-bounded frame (months^2 / 2 cells —
    // ~3.5k rows for a 7-year corpus), so the corpus never sorts
    // globally and cohorts accumulate in parallel.
    "rel_cohort_ltv" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders").selectExpr("o_custkey",
          "year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS m",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
        val first = o.groupBy("o_custkey").agg(min(col("m")).as("m0"))
        val cells = o.join(first, "o_custkey")
          .selectExpr("m0", "m - m0 AS age", "cents")
          .groupBy("m0", "age")
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
        val w = Window.partitionBy("m0").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cells.withColumn("ltv_cents", sum(col("rev_cents")).over(w))
          .selectExpr("m0 AS cohort_m", "age", "n_orders", "rev_cents",
            "ltv_cents")
          .orderBy("cohort_m", "age")
      },
      Some("""WITH o AS (SELECT o_custkey,
            year(CAST(o_orderdate AS DATE)) * 12
              + month(CAST(o_orderdate AS DATE)) AS m,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        f AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY o_custkey),
        cells AS (SELECT m0, m - m0 AS age, count(*) AS n_orders,
            CAST(sum(cents) AS BIGINT) AS rev_cents
          FROM o JOIN f USING (o_custkey) GROUP BY m0, age)
        SELECT m0 AS cohort_m, age, n_orders, rev_cents,
          CAST(sum(rev_cents) OVER (PARTITION BY m0 ORDER BY age
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS ltv_cents
        FROM cells ORDER BY cohort_m, age""")),

    // ---- order-velocity burst census (7-day sliding window), EXACT ----
    // The fraud/abuse velocity primitive: for each customer, the
    // maximum number of orders landing in ANY trailing 7-day window,
    // found with a RANGE frame over epoch days — partitioned per
    // customer, so the window is key-parallel and bounded by
    // orders-per-customer (a business constant), never a global sort.
    // The per-customer maxima then collapse to a census (how many
    // customers peak at 1, 2, 3... orders/week), the frame a
    // threshold-setting analyst reads; flagging is a WHERE on top.
    "rel_burst_orders" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders").selectExpr("o_custkey",
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS day")
        val w = Window.partitionBy("o_custkey").orderBy("day")
          .rangeBetween(-6, 0)
        o.withColumn("burst", count(lit(1)).over(w))
          .groupBy("o_custkey")
          .agg(max(col("burst")).as("max_burst"))
          .groupBy("max_burst")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("o_custkey")).as("cust_checksum"))
          .orderBy("max_burst")
      },
      Some("""WITH o AS (SELECT o_custkey,
            epoch_us(o_orderdate) // 86400000000 AS day
          FROM orders),
        b AS (SELECT o_custkey,
            count(*) OVER (PARTITION BY o_custkey ORDER BY day
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS burst
          FROM o),
        m AS (SELECT o_custkey, max(burst) AS max_burst
          FROM b GROUP BY o_custkey)
        SELECT CAST(max_burst AS BIGINT) AS max_burst,
          count(*) AS n_customers,
          CAST(sum(o_custkey) AS BIGINT) AS cust_checksum
        FROM m GROUP BY max_burst ORDER BY max_burst""")),

    // ---- unit-price dispersion per part (quartile CV), EXACT ----
    // The price-consistency audit: per part, the coefficient of
    // quartile variation (Q3 - Q1) / (Q3 + Q1) of the observed UNIT
    // price across its line items — the robust "is this part priced
    // all over the map" gauge (variance-based CVs are outlier-hostage
    // and need sqrt). Unit cents = round(extendedprice*100) div
    // quantity: integer truncation, positive operands, identical on
    // both engines. Quartiles are percentile_disc element PICKS (the
    // rel_bowley_skew alignment argument), the ratio is fixed-point
    // micro with a nonneg numerator, and the per-part frame collapses
    // to a dispersion-decile census — two keyed aggs, key-parallel,
    // no global window anywhere.
    "rel_price_dispersion" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .where(col("l_quantity") > 0)
          .selectExpr("l_partkey",
            "CAST(round(l_extendedprice * 100) AS BIGINT) div CAST(l_quantity AS BIGINT) AS uc")
        val per = li.groupBy("l_partkey")
          .agg(count(lit(1)).as("n_obs"),
            expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY uc) AS BIGINT)").as("q1"),
            expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY uc) AS BIGINT)").as("q3"))
          .where(col("n_obs") >= 4)
          .selectExpr("l_partkey",
            "1000000 * (q3 - q1) div (q3 + q1) AS cqv_micro")
        per.groupBy(expr("cqv_micro div 100000").as("cqv_decile"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("l_partkey")).as("part_checksum"))
          .orderBy("cqv_decile")
      },
      Some("""WITH li AS (SELECT l_partkey,
            CAST(round(l_extendedprice * 100) AS BIGINT)
              // CAST(l_quantity AS BIGINT) AS uc
          FROM lineitem WHERE l_quantity > 0),
        per AS (SELECT l_partkey, count(*) AS n_obs,
            quantile_disc(uc, 0.25) AS q1, quantile_disc(uc, 0.75) AS q3
          FROM li GROUP BY l_partkey),
        d AS (SELECT l_partkey,
            1000000 * (q3 - q1) // (q3 + q1) AS cqv_micro
          FROM per WHERE n_obs >= 4)
        SELECT cqv_micro // 100000 AS cqv_decile, count(*) AS n_parts,
          CAST(sum(l_partkey) AS BIGINT) AS part_checksum
        FROM d GROUP BY cqv_decile ORDER BY cqv_decile"""))
  )
}
